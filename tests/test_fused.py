"""Fused rule evaluation: the shape classifier, and the fused deductions
and contradictions of the distributed loop against the independent Datalog
oracle (``datalog_oracle``)."""

from __future__ import annotations

import pandas as pd
import pytest

import datalog_oracle as oracle
from zelph_spark import extract, rules as Rz, single_task
from zelph_spark.reasoning import run_fixpoint
from zelph_spark.reasoning.fused import fuse_contradiction_rules, fuse_rules


@pytest.fixture(autouse=True)
def _distributed_loop(monkeypatch):
    """The fused rule tables live in the distributed loop: keep the
    fixpoint off the in-task kernel."""
    monkeypatch.setattr(single_task, "LOCAL_ROWS", 0)


def test_fuse_classification():
    groups = fuse_rules(Rz.wikidata_rules())
    fused_ids = {s["rule_id"] for s in groups.single}
    for specs in groups.pairs.values():
        fused_ids |= {s["rule_id"] for s in specs}
    leftover_ids = {r.rule_id for r in groups.leftover}
    # the three variable-predicate meta-rules stay per-rule
    assert leftover_ids == {"transitive", "opp-swap", "inv-swap"}
    assert len(fused_ids) == len(Rz.wikidata_rules()) - 3
    assert {"opp-sym", "inv-sym"} <= {s["rule_id"] for s in groups.single}
    # transitive-inverse has a constant object in c1 -> pair shape
    assert "transitive-inverse" in fused_ids


def test_fused_equals_unfused_on_fixture(spark, fixture_docs_df):
    t = extract.triples(extract.extract_all(fixture_docs_df))
    base = spark.createDataFrame(
        pd.DataFrame(
            sorted(
                {(r.subj, r.pred, r.obj) for r in t.collect()}
                | set(Rz.BASE_FACTS)
            ),
            columns=["subj", "pred", "obj"],
        )
    )
    fused = run_fixpoint(base, Rz.wikidata_rules())
    fset = {(r.subj, r.pred, r.obj) for r in fused.edges.collect()}
    want = oracle.stratified_fixpoint(
        {(r.subj, r.pred, r.obj) for r in base.collect()}, Rz.wikidata_rules()
    )
    assert fset == want


def test_fused_with_constant_consequence_and_filters(spark):
    """Rules with constant subjects/objects in conditions and constants in
    the consequence go through the fused path correctly."""
    from zelph_spark.rules import P, R

    facts = [("a", "p", "marker"), ("b", "p", "other"), ("a", "q", "c")]
    rules = [
        # constant object filter in the condition
        R("flag", [P("?X", "p", "marker")], P("?X", "is", "flagged")),
        # pair with constant in c2 and constant pred consequence
        R("pair", [P("?X", "p", "?Y"), P("?X", "q", "c")], P("?Y", "seen", "?X")),
    ]
    groups = fuse_rules(rules)
    assert not groups.leftover
    df = spark.createDataFrame(
        pd.DataFrame(facts, columns=["subj", "pred", "obj"])
    )
    res = run_fixpoint(df, rules)
    got = {(r.subj, r.pred, r.obj) for r in res.edges.collect()}
    want = oracle.stratified_fixpoint(set(facts), rules)
    assert got == want
    assert ("a", "is", "flagged") in got and ("b", "is", "flagged") not in got
    # only X=a satisfies both conditions ((b q c) does not exist)
    assert ("marker", "seen", "a") in got
    assert ("other", "seen", "a") not in got


def test_fused_contradictions_equal_per_rule(spark, fixture_docs_df):
    """Fused contradiction sweep == oracle on the saturated fixture graph
    (rule_id + bindings); the ruleset fuses a pair shape and leaves the
    rest per-rule."""
    from zelph_spark.reasoning import evaluate_contradictions

    t = extract.triples(extract.extract_all(fixture_docs_df))
    base = spark.createDataFrame(
        pd.DataFrame(
            sorted({(r.subj, r.pred, r.obj) for r in t.collect()}
                   | set(Rz.BASE_FACTS)),
            columns=["subj", "pred", "obj"],
        )
    )
    sat = run_fixpoint(base, Rz.wikidata_rules()).edges
    crules = Rz.wikidata_contradiction_rules()
    groups = fuse_contradiction_rules(crules)
    assert groups.pairs and groups.leftover
    fused = evaluate_contradictions(sat, crules)
    fs = {(r.rule_id, frozenset(r.bindings.items())) for r in fused.collect()}
    sat_set = {(r.subj, r.pred, r.obj) for r in sat.collect()}
    want = oracle.contradiction_bindings(sat_set, crules)
    assert fs == want
    assert len(fs) > 0

