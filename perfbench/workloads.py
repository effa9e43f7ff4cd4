"""The workloads. Each is a closed loop: one client, one Spark job
chain at a time.

``generate`` makes the inputs from the seed (the part of set-up the
benchmark repeats to take a median), ``prepare`` resets state before a
timed iteration, ``run`` is the timed iteration and ``check`` verifies its
output after the timer stops. ``run`` returns the number of operations it
attempted; ``check`` returns one failure reason per wrong operation.

Sizes are scaled so that a run with set-up fits the time budget that
README.md states, on a 4-core host; README.md also gives the full-size
figures.
"""

from __future__ import annotations

import random
import shutil
from pathlib import Path

from . import checks, inputs


def _size_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def run(self, tracer) -> int:
        raise NotImplementedError

    def check(self) -> list[str]:
        return []

    def stored_bytes(self) -> int:
        return 0


class KG(Workload):
    """The engine's two uses back to back, as a user runs them: build the
    knowledge graph into a fresh stage store (extract, link, canon, graph,
    checkpoint writes), then reason over it (semi-naive fixpoint, then the
    contradiction sweep, forced by a noop write)."""

    name = "kg"
    n_docs = 300
    expected = {
        "edges": (1_384, -163357402494908982577),
        "saturated": (1_892, -368090149761703281907),
        "contradictions": (201, -75803600144782925457),
    }

    def generate(self) -> None:
        self.corpus = inputs.make_corpus(self.spark, self.work, self.n_docs, self.seed)

    def prepare(self) -> None:
        self.store = self.work / "store"
        shutil.rmtree(self.store, ignore_errors=True)
        self.docs = self.spark.read.parquet(str(self.corpus / "docs"))

    def run(self, tracer) -> int:
        from zelph_spark.pipeline import run_pipeline

        res = run_pipeline(self.spark, self.docs, store_root=str(self.store))
        with tracer.span("contradictions", "reasoning", "force"):
            _noop(res.contradictions)
        self.result = res
        return 1

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        from zelph_spark.checkpoint import StageStore

        got = {
            "edges": checks.digest(
                StageStore(self.store).read(self.spark, "edges"),
                ["subj", "pred", "obj"],
            ),
            "saturated": checks.digest(
                self.result.saturated_ids, ["subj", "pred", "obj"]
            ),
            "contradictions": checks.digest(
                self.result.contradictions.select(
                    "rule_id", F.to_json("bindings").alias("b")
                ),
                ["rule_id", "b"],
            ),
        }
        bad = [checks.expect(k, v, self.expected[k]) for k, v in got.items()]
        bad = [b for b in bad if b]
        return ["; ".join(bad)] if bad else []

    def stored_bytes(self) -> int:
        return _size_bytes(self.store)


# Contract queries: one or more per engine layer, chosen so one pass fits
# the run budget (README.md lists the layer each one stands for).
CONTRACT_QUERIES = [
    "kg_closure",
    "kg_components",
    "kg_sparql_cycle",
    "kg_statements",
    "kg_cluster_drop",
    "q1_pricing_summary",
    "dedup_jaccard",
    "sim_topk",
    "text_stats",
    "multimodal_pipeline",
]


class Contract(Workload):
    """Driver-contract queries over generated sf0.01-shaped tables, in
    seed-permuted order, each result fetched to the client with
    ``toPandas`` for the DuckDB parity check."""

    name = "contract"
    scale = 0.01

    def generate(self) -> None:
        self.tables = inputs.make_tables(self.work, self.scale, self.seed)
        self.order = list(CONTRACT_QUERIES)
        random.Random(self.seed).shuffle(self.order)

    def _queries(self):
        import __spark_entry__ as E

        qs = E.queries()
        return [(name, qs[name]) for name in self.order]

    def run(self, tracer) -> int:
        self.collected, self.errors = {}, []
        for name, fn in self._queries():
            with tracer.span(name, "entry", "query") as q:
                try:
                    df = fn(self.spark, str(self.tables))
                    q.layer = tracer.last_call_layer(q) or "entry"
                    self.collected[name] = df.toPandas()
                except Exception as ex:  # a query that raises is a failed operation
                    self.errors.append(f"{name}: {type(ex).__name__}: {ex}"[:300])
        return len(self.order)

    def check(self) -> list[str]:
        import __spark_entry__ as E

        bad = list(self.errors)
        oracle_sql = E.oracle_sql()
        oracle = checks.Oracle(self.tables)
        try:
            for name, got in self.collected.items():
                reason = oracle.check(oracle_sql[name], got)
                if reason:
                    bad.append(f"{name}: {reason}")
        finally:
            oracle.close()
        return bad


WORKLOADS = {w.name: w for w in (KG, Contract)}
