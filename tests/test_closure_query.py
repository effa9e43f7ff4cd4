"""Closure operator + SPARQL-subset combinators (SURVEY.md §2.5/§2.6)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from zelph_spark import closure, query, single_task
from zelph_spark.rules import P


def _pairs(spark, pairs):
    return spark.createDataFrame(pd.DataFrame(pairs, columns=["subj", "obj"]))


def _edges(spark, triples):
    return spark.createDataFrame(
        pd.DataFrame(triples, columns=["subj", "pred", "obj"])
    )


CHAIN = [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")]
CHAIN_PLUS = {
    ("a", "b"), ("a", "c"), ("a", "d"),
    ("b", "c"), ("b", "d"), ("c", "d"), ("x", "y"),
}


@pytest.mark.parametrize("phase", ["linear", "doubling"])
def test_closure_plus(spark, phase, monkeypatch):
    # force the distributed loop (the single-task fast path has its own
    # differential suite, test_local_closure.py). "linear" closes within the
    # one-hop prefix; "doubling" is a chain long enough that the loop also
    # runs its reach ⋈ reach rounds after AUTO_SWITCH_ROUND
    monkeypatch.setattr(single_task, "LOCAL_ROWS", 0)
    if phase == "linear":
        pairs, want = CHAIN, CHAIN_PLUS
    else:
        depth = closure.AUTO_SWITCH_ROUND + 8
        chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(depth)]
        pairs = chain + [("x", "y")]
        want = {(a, b) for i, (a, _) in enumerate(chain) for _, b in chain[i:]}
        want |= {("x", "y")}
    got = {
        (r.subj, r.obj)
        for r in closure.transitive_closure(_pairs(spark, pairs)).collect()
    }
    assert got == want


def test_closure_star_includes_identity(spark):
    got = {
        (r.subj, r.obj)
        for r in closure.closure_with_start(_pairs(spark, CHAIN)).collect()
    }
    idents = {(n, n) for n in "abcdxy"}
    assert got == CHAIN_PLUS | idents


def test_closure_cycle_terminates(spark):
    cyc = [("a", "b"), ("b", "c"), ("c", "a")]
    got = {
        (r.subj, r.obj)
        for r in closure.transitive_closure(_pairs(spark, cyc)).collect()
    }
    assert got == {(x, y) for x in "abc" for y in "abc"}


def test_transitive_targets_and_sources(spark):
    pairs = _pairs(spark, CHAIN)
    start = spark.createDataFrame(pd.DataFrame({"node": ["b"]}))
    fwd = {
        (r.start, r.node)
        for r in closure.transitive_targets(pairs, start).collect()
    }
    assert fwd == {("b", "c"), ("b", "d")}
    fwd_inc = {
        (r.start, r.node)
        for r in closure.transitive_targets(pairs, start, include_start=True).collect()
    }
    assert fwd_inc == fwd | {("b", "b")}
    back = {
        (r.start, r.node)
        for r in closure.transitive_sources(pairs, start).collect()
    }
    assert back == {("b", "a")}


def test_path_sequence(spark):
    p1 = _pairs(spark, [("a", "b"), ("z", "w")])
    p2 = _pairs(spark, [("b", "c")])
    p3 = _pairs(spark, [("c", "d"), ("c", "e")])
    got = {
        (r.subj, r.obj)
        for r in closure.path_sequence([p1, p2, p3]).collect()
    }
    assert got == {("a", "d"), ("a", "e")}


# --- SPARQL combinators (mirroring test_sparql.cpp case shapes) -----------

GRAPH = [
    ("alice", "knows", "bob"),
    ("alice", "knows", "carol"),
    ("bob", "knows", "carol"),
    ("alice", "age", "42"),
    ("carol", "age", "37"),
]


def test_bgp_and_join(spark):
    e = _edges(spark, GRAPH)
    knows = query.bgp(e, [P("?X", "knows", "?Y")])
    ages = query.bgp(e, [P("?Y", "age", "?A")])
    got = {(r.X, r.Y, r.A) for r in query.join(knows, ages).collect()}
    assert got == {("alice", "carol", "37"), ("bob", "carol", "37")}


def test_optional_keeps_unmatched(spark):
    e = _edges(spark, GRAPH)
    knows = query.bgp(e, [P("?X", "knows", "?Y")])
    ages = query.bgp(e, [P("?Y", "age", "?A")])
    got = {(r.X, r.Y, r.A) for r in query.optional(knows, ages).collect()}
    assert ("alice", "bob", None) in got  # bob has no age -> null binding
    assert ("alice", "carol", "37") in got


def test_minus_semantics(spark):
    e = _edges(spark, GRAPH)
    knows = query.bgp(e, [P("?X", "knows", "?Y")])
    with_age = query.bgp(e, [P("?Y", "age", "?A")])
    got = {(r.X, r.Y) for r in query.minus(knows, with_age).collect()}
    assert got == {("alice", "bob")}
    # no shared vars -> keep everything (sparql.zph:507-511)
    unrelated = query.bgp(e, [P("?Z", "age", "?B")])
    kept = query.minus(knows, unrelated)
    assert kept.count() == knows.count()


def test_union_distinct_group_count_order_limit(spark):
    e = _edges(spark, GRAPH)
    knows = query.bgp(e, [P("?X", "knows", "?Y")])
    ages = query.bgp(e, [P("?X", "age", "?A")])
    u = query.union(knows, ages)
    assert u.count() == 5 and set(u.columns) == {"X", "Y", "A"}
    d = query.distinct(knows, ["X"])
    assert {r.X for r in d.collect()} == {"alice", "bob"}
    gc = query.group_count(knows, ["X"])
    assert {(r.X, r["count"]) for r in gc.collect()} == {("alice", 2), ("bob", 1)}
    gcd = query.group_count(knows, ["X"], count_var="Y", distinct_count=True)
    assert {(r.X, r["count"]) for r in gcd.collect()} == {("alice", 2), ("bob", 1)}
    top = knows.orderBy(F.col("X").asc(), F.col("Y").asc()).limit(2).collect()
    assert [(r.X, r.Y) for r in top] == [("alice", "bob"), ("alice", "carol")]
