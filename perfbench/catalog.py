"""``catalog_mix``: the eight headline catalog queries plus
``corpus_dedup_pipeline``, over seeded sf0.1-shaped fixtures whose
documents and embeddings are a k-copy widening.

A pass runs the headline queries once each in a seed-shuffled order, each
completed with a collect of its (bounded) result. The first pass of a run is
the cold one a daily report pays; its collected results are then checked
with ``oracle.compare_query`` against DuckDB, outside any timing. The
pipeline then runs once, from input to a complete result, and that result
is checked against its oracle.
"""

from __future__ import annotations

import dataclasses
import random
import re
import time
from dataclasses import dataclass, field
from pathlib import Path

from . import fixtures
from .trace import SparkCounters, Tracer, materialize

CORPUS = "corpus_dedup_pipeline"
# 4 copies of a 1,250-document base: 5,000 documents and 2,000 embeddings,
# the sf0.1 sizes
COPIES, BASE_DOCS, BASE_VECTORS = 4, 1_250, 500


def headliners() -> list[str]:
    from fund_data_pipeline_spark import queries as Q

    return [n for n, s in Q.QUERIES.items() if s.headline]


@dataclass
class Pass:
    order: list
    wall_s: float = 0.0
    query_s: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)  # query -> counters
    results: dict = field(default_factory=dict)  # query -> collected pandas frame


def materialized_oracle(sql: str) -> str:
    """The registered oracle with every non-recursive CTE marked
    MATERIALIZED: DuckDB then evaluates each once instead of inlining it at
    every reference (seconds instead of minutes here); the result is the
    same relation."""
    return re.sub(r"(?m)(^|,\s*|WITH RECURSIVE\s+)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql)


@dataclass
class Collected:
    """A finished result that ``oracle.compare_query`` can read back."""

    pdf: object

    def toPandas(self):  # noqa: N802 — the DataFrame method compare_query calls
        return self.pdf


class CatalogMix:
    def __init__(self, spark, data: Path, seed: int) -> None:
        self.spark, self.data, self.seed = spark, data, seed
        self.headline = headliners()
        self.con = None

    def generate(self) -> None:
        fixtures.write_catalog(self.data, self.seed)
        fixtures.write_corpus(self.data, self.seed, COPIES, BASE_DOCS, BASE_VECTORS)

    def _duckdb(self):
        import duckdb

        from fund_data_pipeline_spark import oracle

        if self.con is None:
            self.con = duckdb.connect()
            for t in oracle.TABLES:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        return self.con

    def check_headliners(self, results: dict) -> list[str]:
        """Each collected headline result against its DuckDB oracle."""
        from fund_data_pipeline_spark import oracle
        from fund_data_pipeline_spark import queries as Q

        problems = []
        for name, pdf in results.items():
            spec = dataclasses.replace(Q.QUERIES[name], spark=lambda _spark, _dir, pdf=pdf: Collected(pdf))
            found, n_rows = oracle.compare_query(self.spark, self._duckdb(), spec, str(self.data))
            if found or n_rows == 0:
                problems.append(f"{name}: {found or 'no rows'}")
        return problems

    def run_corpus(self):
        """One corpus_dedup_pipeline run, input to complete result."""
        from fund_data_pipeline_spark import queries as Q

        return Q.QUERIES[CORPUS].spark(self.spark, str(self.data)).toPandas()

    def check_corpus(self, pdf) -> list[str]:
        from fund_data_pipeline_spark import oracle
        from fund_data_pipeline_spark import queries as Q
        from fund_data_pipeline_spark.queries.registry import QuerySpec

        spec = QuerySpec(
            name=CORPUS,
            spark=lambda _spark, _dir: Collected(pdf),
            oracle=materialized_oracle(Q.QUERIES[CORPUS].oracle),
        )
        found, _ = oracle.compare_query(self.spark, self._duckdb(), spec, str(self.data))
        return [f"{CORPUS}: {p}" for p in found]

    @staticmethod
    def same_result(a, b) -> bool:
        """Same rows in any order; floats to 9 significant digits, since a
        parallel sum may add in another order from run to run."""

        def rows(pdf):
            cell = lambda v: f"{v:.9g}" if isinstance(v, float) else str(v)  # noqa: E731
            return sorted(tuple(map(cell, r)) for r in pdf.itertuples(index=False))

        return list(a.columns) == list(b.columns) and rows(a) == rows(b)

    def run_query(self, name: str, p: Pass, counters: SparkCounters, tracer: Tracer | None = None) -> None:
        """One headline query, collected, into pass ``p``; ``counters`` must
        have been taken right before."""
        from fund_data_pipeline_spark import queries as Q

        ctx = tracer.span(f"queries.{name}") if tracer else None
        if ctx:
            ctx.__enter__()
        t0 = time.perf_counter()
        p.results[name] = Q.QUERIES[name].spark(self.spark, str(self.data)).toPandas()
        p.query_s[name] = time.perf_counter() - t0
        if ctx:
            ctx.__exit__(None, None, None)
        p.spark[name] = counters.take()

    def run_pass(self, order: list[str]) -> Pass:
        p = Pass(order=order)
        counters = SparkCounters(self.spark)
        t_pass = time.perf_counter()
        for name in order:
            self.run_query(name, p, counters)
        p.wall_s = time.perf_counter() - t_pass
        return p

    def run_paired(self, order: list[str], tracer: Tracer) -> tuple[Pass, Pass]:
        """Each query untraced and traced, back to back, the leg that runs
        first alternating from query to query: the JIT still speeds up
        pass after pass, and alternation keeps that drift out of the
        difference between the legs."""
        plain, traced = Pass(order=order), Pass(order=order)
        counters = SparkCounters(self.spark)
        for i, name in enumerate(order):
            legs = [(plain, None), (traced, tracer)]
            for p, tr in legs if i % 2 == 0 else legs[::-1]:
                self.run_query(name, p, counters, tr)
        for p in (plain, traced):
            p.wall_s = sum(p.query_s.values())
        return plain, traced

    def orders(self):
        """Seed-shuffled orders of the headline queries, one per pass."""
        rng = random.Random(self.seed)
        while True:
            order = list(self.headline)
            rng.shuffle(order)
            yield order


def install_tracing(tracer: Tracer, layer: dict) -> None:
    """Swap the corpus pipeline's layer calls for span-recording,
    materializing wrappers."""
    from fund_data_pipeline_spark.operators import graph, similarity
    from fund_data_pipeline_spark.queries import mlops

    def frame(name, after=None):
        def factory(fn):
            def run(*a, **kw):
                with tracer.span(name) as sp:
                    out = materialize(fn(*a, **kw))
                    sp.counts["rows"] = out.count()
                    if after:
                        after(out, a, sp)
                for k, v in sp.counts.items():
                    layer[f"{name}.{k}"] = layer.get(f"{name}.{k}", 0) + v
                return out

            return run

        return factory

    def components(out, args, sp):
        sp.counts["edges"] = args[1].count()
        sp.counts["components"] = out.select("cluster_id").distinct().count()

    tracer.swap(mlops, "minhash_bands", frame("text.minhash"))
    tracer.swap(similarity, "banded_pairs_skew_bounded", frame("similarity.lsh_edges"))
    tracer.swap(graph, "connected_components", frame("graph.components", components))
    tracer.swap(mlops, "semantic_dedup", frame("vectors.semantic"))

