"""Every literal relation the engine builds goes through
``session.literal``: it has a finite size estimate (a list-built
``createDataFrame`` is a ``LogicalRDD`` estimated at Long.MaxValue, which no
plan can broadcast), and a public function that reads only literals runs no
Spark job."""

from __future__ import annotations

import ast
import uuid
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from zelph_spark import canon, clusters, datagen, graph, pipeline, session, statements
from zelph_spark.ops import neural
from zelph_spark.reasoning import fixpoint, fused
from zelph_spark.rules import P as Pat, Rule
from zelph_spark.sources import sinks

REPO = Path(__file__).resolve().parents[1]
FINITE = 2**40
EDGES = "subj string, pred string, obj string"
ID_EDGES = "subj long, pred long, obj long"
SITES = (canon, clusters, fixpoint, fused, graph, neural, pipeline, sinks, statements)


def _size(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted in its own job group."""
    sc = spark.sparkContext
    group = f"literal-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def built(monkeypatch):
    """Records every literal the engine builds as ``(module, n_rows, df)``."""
    out = []
    for m in SITES:
        def rec(spark, rows, schema, _name=m.__name__.rsplit(".", 1)[-1]):
            rows = list(rows)
            df = session.literal(spark, rows, schema)
            out.append((_name, len(rows), df))
            return df

        monkeypatch.setattr(m, "literal", rec)
    return out


def _assert_sized(built, *frames):
    for df in frames:
        assert _size(df) < FINITE
    for name, n, df in built:
        assert _size(df) < FINITE, (name, n)


def _seen(built) -> set:
    """(module, empty?) of every literal recorded."""
    return {(name, n == 0) for name, n, _ in built}


def test_literal_shapes(spark):
    schema = "s string, n long, m map<string,string>"
    for rows in ([], [("a", 1, {"k": "v"}), (None, None, None)]):
        df, jobs = _jobs(spark, lambda: session.literal(spark, rows, schema))
        assert jobs == 0 and _size(df) < FINITE
        assert df.schema.simpleString() == "struct<s:string,n:bigint,m:map<string,string>>"
        assert [tuple(r) for r in df.collect()] == rows
    # a list-built relation is the unsized leaf the helper replaces
    assert _size(spark.createDataFrame([("a",)], "s string")) >= FINITE


def test_empty_literal_is_a_local_relation(spark):
    """An empty literal is a 0-row ``LocalRelation`` like a non-empty one:
    its size estimate is 0 and collecting it runs no job."""
    df = session.literal(spark, [], "s string, m map<string,string>")
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LocalRelation"
    assert _size(df) == 0
    rows, jobs = _jobs(spark, df.collect)
    assert rows == [] and jobs == 0


def test_job_free_sites(spark, built):
    """Sites whose public function reads only literals: the literal is
    sized and the whole call runs no Spark job."""
    lit = lambda rows, schema: session.literal(spark, rows, schema)  # noqa: E731
    edges = lit([("a", "P31", "b"), ("b", "P279", "c")], EDGES)
    mm = lit([("b", "a")], "node string, canon string")
    empty_mm = lit([], "node string, canon string")
    net = neural.GraphNet(
        [["i1", "i2"], ["o"]], [np.array([[0.5, 2.0]])], [np.array([[1, 0]], dtype=np.uint8)]
    )
    unmasked = neural.GraphNet([["i"], ["o"]], [np.ones((1, 1))], [np.zeros((1, 1), dtype=np.uint8)])
    rule = Rule("r", (Pat("?X", "P31", "?Y"),), Pat("?X", "P279", "?Y"))
    calls = {
        "components": lambda: [canon.connected_components(lit([], "a string, b string"))],
        "relabel": lambda: list(canon.relabel_edges(edges, mm)),
        "relabel_no_map": lambda: list(canon.relabel_edges(edges, empty_mm)),
        "membership": lambda: [clusters.empty_membership(spark)],
        "contradictions": lambda: [fixpoint.evaluate_contradictions(edges, [])],
        "fused": lambda: fused.fire_fused(fused.fuse_rules([rule]), edges),
        "write_back": lambda: [net.write_back(spark)],
        "write_back_none": lambda: [unmasked.write_back(spark)],
        "edges_for_pred": lambda: [graph.edges_for_pred(lit([(1, 2, 3)], ID_EDGES), "P279")],
    }
    for name, call in calls.items():
        frames, jobs = _jobs(spark, call)
        assert jobs == 0, name
        _assert_sized(built, *frames)
    assert _seen(built) >= {
        ("canon", True), ("clusters", True), ("fixpoint", True),
        ("fused", False), ("graph", False), ("neural", True), ("neural", False),
    }
    assert net.write_back(spark).collect()[0].w == 0.5


def test_rule_constant_ids_run_no_job(spark):
    """The kg rule-constant lookup and ``edges_for_pred``'s id lookup fold
    into the literal's LocalRelation and are evaluated on the driver."""
    names = session.literal(spark, [("P31",), ("Q5",)], "name string")
    ids, jobs = _jobs(spark, lambda: graph.name_ids(names))
    assert jobs == 0 and set(ids) == {"P31", "Q5"}
    pid = spark.range(1).select(graph.nid(F.lit("P31"))).first()[0]
    assert ids["P31"] == pid
    edges = session.literal(spark, [(1, pid, 2), (3, 4, 5)], ID_EDGES)
    sub, jobs = _jobs(spark, lambda: graph.edges_for_pred(edges, "P31"))
    assert jobs == 0 and [tuple(r) for r in sub.collect()] == [(1, pid, 2)]


def test_sites_with_their_own_jobs(spark, built, fixture_docs_df):
    """Sites whose public function runs jobs on its other inputs: every
    literal they build is sized, empty and non-empty alike."""
    edges = session.literal(spark, [("a", "P31", "b"), ("b", "P31", "c")], EDGES)
    rule = Rule("r", (Pat("?X", "P31", "?Y"),), Pat("?X", "P279", "?Y"))
    for wrong in ([], [("a", "P279", "b")]):
        out = fixpoint.deduced_wrong_contradictions(edges, [rule], session.literal(spark, wrong, EDGES))
        _assert_sized(built, out)
    sinks.neighborhood(edges, "a", depth=1)
    ents = {e["id"]: e for e in datagen.fixture_entities()}
    for ids in (["Q900"], list(ents)):
        lines = spark.createDataFrame(
            pd.DataFrame({"line": [datagen.render_line(ents[i]) for i in ids]})
        )
        _, table = statements.constraint_rules(statements.extract_statements(lines))
        _assert_sized(built, table)
    dic = spark.createDataFrame(datagen.fixture_qid_dictionary())
    res = pipeline.run_pipeline(spark, fixture_docs_df, dictionary=dic, reason=False)
    _assert_sized(built, res.contradictions)
    assert _seen(built) >= {
        ("fixpoint", True), ("sinks", False), ("statements", True),
        ("statements", False), ("pipeline", True), ("pipeline", False),
    }


def test_assert_batch_none_is_empty_edges(spark):
    new = session.literal(spark, [("a", "p", "b"), ("b", "p", "c")], EDGES)
    for cluster in (None, "w"):
        got = clusters.assert_batch(None, new, cluster)
        want = clusters.assert_batch(session.literal(spark, [], EDGES), new, cluster)
        for g, w in zip(got, want):
            assert g.schema == w.schema
            assert sorted(map(tuple, g.collect())) == sorted(map(tuple, w.collect()))


def test_engine_builds_literals_only_through_the_helper():
    """A new ``createDataFrame(`` call in the engine would bring back the
    unsized ``LogicalRDD`` leaf; only ``session.literal`` may make one."""
    inside, outside = [], []
    for p in sorted((REPO / "zelph_spark").rglob("*.py")):
        tree = ast.parse(p.read_text())
        helper = set()
        if p.name == "session.py":
            fn = next(n for n in tree.body if getattr(n, "name", None) == "literal")
            helper = {id(n) for n in ast.walk(fn)}
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "createDataFrame"
            ):
                (inside if id(n) in helper else outside).append(
                    f"{p.relative_to(REPO)}:{n.lineno}"
                )
    assert len(inside) == 1  # the scan sees the helper's own call
    assert outside == []
