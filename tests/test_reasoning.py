"""Fixpoint semantics vs the independent Datalog oracle + the semantic
probes of FIXTURES.md §6 (ported from the reference's test_reasoning /
test_stratified / test_seminaive suites)."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

import datalog_oracle as oracle
from zelph_spark import datagen, extract, rules as Rz, single_task
from zelph_spark.reasoning import (
    evaluate_query,
    kernel,
    run_fixpoint,
    verify_fixpoint,
)
from zelph_spark.reasoning.fixpoint import split_inherit
from zelph_spark.rules import P, R


def _df(spark, triples):
    return spark.createDataFrame(
        pd.DataFrame(triples, columns=["subj", "pred", "obj"])
    )


def _edge_set(df):
    return {(r.subj, r.pred, r.obj) for r in df.collect()}


def _both_paths(spark, monkeypatch, facts, rules, wrong_facts=None):
    """The fixpoint of ``facts`` on both paths: the in-task kernel (the
    default budget) and the distributed loop (``LOCAL_ROWS = 0``)."""
    edges = _df(spark, facts)
    out = []
    for rows, declined in ((single_task.LOCAL_ROWS, None), (0, "budget")):
        monkeypatch.setattr(single_task, "LOCAL_ROWS", rows)
        res = run_fixpoint(edges, rules, wrong_facts=wrong_facts)
        assert res.log[0].get("declined") == declined
        out.append(res)
    return out


# ---------------------------------------------------------------------------
# Full wikidata.zph ruleset on the fixture corpus, vs the oracle
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def fixture_facts(spark, fixture_docs_df):
    t = extract.triples(extract.extract_all(fixture_docs_df))
    base = {(s, p, o) for s, p, o in Rz.BASE_FACTS}
    facts = {(r.subj, r.pred, r.obj) for r in t.collect()} | base
    return facts


def test_wikidata_ruleset_matches_oracle(spark, fixture_facts):
    want = oracle.stratified_fixpoint(fixture_facts, Rz.wikidata_rules())
    edges = _df(spark, sorted(fixture_facts))
    res = run_fixpoint(
        edges,
        Rz.wikidata_rules(),
        contradiction_rules=Rz.wikidata_contradiction_rules(),
    )
    got = _edge_set(res.edges)
    assert got == want
    assert res.n_deduced == len(want) - len(fixture_facts)
    # differential safety net (reasoning_seminaive.cpp:386-407)
    assert verify_fixpoint(res, Rz.wikidata_rules())
    # contradictions vs oracle
    want_c = oracle.contradiction_bindings(
        want, Rz.wikidata_contradiction_rules()
    )
    got_c = {
        (r.rule_id, frozenset(r.bindings.items()))
        for r in res.contradictions.collect()
    }
    assert got_c == want_c
    # the seeded contradictions actually fire
    fired = {r.rule_id for r in res.contradictions.collect()}
    assert "c-isa-cycle" in fired  # Q501/Q502
    assert "c-isa-and-sub" in fired  # Q503
    assert "c-opp-quality" in fired  # Q203 hot+cold


def test_expected_signature_deductions(spark, fixture_facts):
    res = run_fixpoint(_df(spark, sorted(fixture_facts)), Rz.wikidata_rules())
    got = _edge_set(res.edges)
    assert ("Q100", "P31", "Q215627") in got  # subclass lift
    assert ("Q100", "P31", "Q35120") in got  # + transitive P279
    assert ("Q213", "P527", "Q212") in got  # transitive has-part (3 hops)
    assert ("Q202", "P461", "Q201") in got  # symmetry
    assert ("Q211", "P361", "Q210") in got  # inverse swap P527 -> P361
    assert ("Q401", "P31", "Q35120") in got  # facet isa
    assert ("Q401", "P527", "Q403") in got  # facet has-part
    assert ("P361", "P1696", "P527") in got and ("P527", "P1696", "P361") in got


def test_naive_equals_seminaive(spark, fixture_facts, monkeypatch):
    """Differential equivalence, test_seminaive.cpp:71: the distributed
    semi-naive loop against the oracle, itself a naive evaluator (every
    rule re-fired over all facts until nothing is new), plus the classic
    full pass over the result (verify_fixpoint)."""
    edges = _df(spark, sorted(fixture_facts))
    monkeypatch.setattr(single_task, "LOCAL_ROWS", 0)
    res = run_fixpoint(edges, Rz.wikidata_rules())
    assert res.log[0] == {"stratum": "kernel", "declined": "budget"}
    want = oracle.stratified_fixpoint(fixture_facts, Rz.wikidata_rules())
    assert _edge_set(res.edges) == want
    assert verify_fixpoint(res, Rz.wikidata_rules())


# ---------------------------------------------------------------------------
# Semantic probes (FIXTURES.md §6)
# ---------------------------------------------------------------------------


def test_transitive_cycle_terminates(spark):
    """Chain with a cycle: closure computed, loop terminates
    (test_reasoning.cpp:349)."""
    facts = [
        ("p", "P31", Rz.TRANSITIVE),
        ("a", "p", "b"),
        ("b", "p", "c"),
        ("c", "p", "a"),
    ]
    res = run_fixpoint(_df(spark, facts), Rz.wikidata_rules())
    got = _edge_set(res.edges)
    for x in "abc":
        for y in "abc":
            assert (x, "p", y) in got  # full closure incl. self-loops
    assert res.iterations < 10


def test_naf_fires_only_after_saturation(spark):
    """Stratified NAF (test_stratified.cpp:48-95): 'base' reaches 'd' only
    transitively; the NAF rule must not fire on the pre-closure state."""
    facts = [
        ("p", "P31", Rz.TRANSITIVE),
        ("a", "p", "b"),
        ("b", "p", "c"),
        ("c", "p", "d"),
        ("x", "q", "x"),
    ]
    # NAF: anything x with (x q x) and NOT (a p x) gets flagged 'isolated'
    naf_rule = R(
        "naf-isolated",
        [P("?X", "q", "?X"), P("a", "p", "?X")],
        P("?X", "flag", "isolated"),
        negated=(1,),
    )
    rules = Rz.wikidata_rules() + [naf_rule]
    res = run_fixpoint(_df(spark, facts), rules)
    got = _edge_set(res.edges)
    # closure gives (a p d); x is not reachable -> flagged
    assert ("a", "p", "d") in got
    assert ("x", "flag", "isolated") in got
    # counter-case: if x were reachable, no flag
    facts2 = facts + [("a", "p", "x")]
    res2 = run_fixpoint(_df(spark, facts2), rules)
    assert ("x", "flag", "isolated") not in _edge_set(res2.edges)
    # oracle agreement on the NAF program
    want = oracle.stratified_fixpoint(set(facts), rules)
    assert got == want


def test_rule_order_independence(spark):
    """Stratification is schedule-independent (test_stratified.cpp:48-336)."""
    facts = [("a", "r", "b")]
    r1 = R("pos", [P("?X", "r", "?Y")], P("?Y", "s", "?X"))
    r2 = R(
        "naf",
        [P("?X", "r", "?Y"), P("?Y", "s", "?X")],
        P("?X", "t", "?Y"),
        negated=(1,),
    )
    fwd = run_fixpoint(_df(spark, facts), [r1, r2])
    rev = run_fixpoint(_df(spark, facts), [r2, r1])
    assert _edge_set(fwd.edges) == _edge_set(rev.edges)
    # (b s a) exists, so the NAF rule must never fire
    assert ("a", "t", "b") not in _edge_set(fwd.edges)


def test_naf_deduction_reopens_positive_stratum(spark):
    """Deferred consequences re-open the positive stratum
    (test_stratified.cpp:150)."""
    facts = [("a", "r", "b")]
    naf = R(
        "naf-seed", [P("?X", "r", "?Y"), P("?X", "done", "?Y")],
        P("?X", "s", "?Y"), negated=(1,),
    )
    pos = R("chain", [P("?X", "s", "?Y")], P("?X", "done", "?Y"))
    res = run_fixpoint(_df(spark, facts), [naf, pos])
    got = _edge_set(res.edges)
    assert ("a", "s", "b") in got and ("a", "done", "b") in got
    want = oracle.stratified_fixpoint(set(facts), [naf, pos])
    assert got == want
    # the re-opened stratum must not duplicate rows or double-count: edges
    # stays a set and n_deduced is exact (regression: NAF delta was unioned
    # into full twice)
    assert res.edges.count() == len(got)
    assert res.deduced.count() == len(got) - len(facts)
    assert res.n_deduced == len(got) - len(facts)


def test_naf_p_facts_inherit_after_an_empty_injection(spark):
    """An inheritance injection that lands nothing must not exempt its spec
    from the NAF delta that follows: p facts a NAF rule deduces still
    inherit down the s chain. The NAF rule keeps the kernel out, so the
    distributed loop runs."""
    inherit = R("hp-inherit", [P("?K", "HP", "?P"), P("?X", "SUB", "?K")],
                P("?X", "HP", "?P"))
    naf = R("flag-hp", [P("?X", "FLAG", "?Y"), P("?X", "BLOCK", "?Y")],
            P("?X", "HP", "?Y"), negated=(1,))
    rules = [inherit, naf]
    facts = [("N1", "SUB", "N0"), ("N0", "HP", "A"), ("N1", "HP", "A"),
             ("N0", "FLAG", "B")]
    res = run_fixpoint(_df(spark, facts), rules)
    assert res.log[0] == {"stratum": "kernel", "declined": "fragment"}
    got = _edge_set(res.edges)
    assert ("N1", "HP", "B") in got
    assert got == oracle.stratified_fixpoint(set(facts), rules)
    assert verify_fixpoint(res, rules)


def test_unequal_guard(spark):
    """!= guard blocks same-value bindings (test_reasoning.cpp:387,551)."""
    facts = [("a", "r", "b"), ("b", "r", "b")]
    rule = R(
        "guard",
        [P("?X", "r", "?Y")],
        P("?X", "ne", "?Y"),
        unequals=(("?X", "?Y"),),
    )
    got = _edge_set(run_fixpoint(_df(spark, facts), [rule]).edges)
    assert ("a", "ne", "b") in got
    assert ("b", "ne", "b") not in got


def test_repeated_variable_in_pattern(spark):
    """(X r X) matches only self-loops (J8 binding consistency)."""
    facts = [("a", "r", "a"), ("a", "r", "b")]
    got = evaluate_query(_df(spark, facts), [P("?X", "r", "?X")]).collect()
    assert [r.X for r in got] == ["a"]


def test_query_mode_returns_bindings(spark, fixture_facts):
    """§2.7: statements with variables evaluate immediately as queries."""
    edges = _df(spark, sorted(fixture_facts))
    out = evaluate_query(
        edges,
        [P("?X", "P31", "?K"), P("?K", "P279", "?U")],
        select=["?X", "?U"],
    )
    rows = {(r.X, r.U) for r in out.collect()}
    assert ("Q100", "Q215627") in rows


# ---------------------------------------------------------------------------
# Known-wrong facts (prob < 0.5): the engine half of the reference-binary
# parity tests in test_reference_oracle.py, which need the compiled binary
# ---------------------------------------------------------------------------


def test_low_prob_fact_feeds_rules(spark, monkeypatch):
    """Unification ignores fact probabilities: a known-wrong fact fires
    rules like a trusted one (test_low_prob_fact_feeds_rules_parity)."""
    rule = R("r", [P("?X", "P50", "?Y")], [P("?X", "P60", "?Y")])
    wrong = _df(spark, [("Q1", "P50", "Q2")])
    for res in _both_paths(
        spark, monkeypatch, [("Q1", "P50", "Q2")], [rule], wrong
    ):
        got = _edge_set(res.edges)
        assert ("Q1", "P60", "Q2") in got  # the low-prob fact fired the rule
        assert res.contradictions.count() == 0  # deduced fact is NOT known-wrong


def test_deduced_known_wrong_contradiction(spark, monkeypatch):
    """A firing whose consequence is a known-wrong fact is a
    ``#deduced-wrong`` contradiction, not a deduction
    (test_deduced_known_wrong_contradiction_parity)."""
    rule = R("r", [P("?X", "P50", "?Y")], [P("?X", "P60", "?Y")])
    facts = [("Q1", "P50", "Q2"), ("Q1", "P60", "Q2")]
    wrong = _df(spark, [("Q1", "P60", "Q2")])
    for res in _both_paths(spark, monkeypatch, facts, [rule], wrong):
        assert res.n_deduced == 0
        rows = res.contradictions.collect()
        assert len(rows) == 1
        assert rows[0].rule_id == "r#deduced-wrong"
        assert rows[0].bindings == {"X": "Q1", "Y": "Q2"}


def test_naf_rule_deduced_known_wrong_contradiction(spark):
    """The known-wrong check covers NAF rules too; the NAF rule keeps the
    kernel out, so the distributed loop runs
    (test_naf_rule_deduced_known_wrong_contradiction_parity)."""
    # X P50 Y AND NOT (X P70 Y) => X P60 Y ; P70 is empty so the rule fires
    rule = R(
        "r",
        [P("?X", "P50", "?Y"), P("?X", "P70", "?Y")],
        [P("?X", "P60", "?Y")],
        negated=(1,),
    )
    edges = _df(spark, [("Q1", "P50", "Q2"), ("Q1", "P60", "Q2")])
    wrong = _df(spark, [("Q1", "P60", "Q2")])
    res = run_fixpoint(edges, [rule], wrong_facts=wrong)
    assert res.log[0] == {"stratum": "kernel", "declined": "fragment"}
    assert res.n_deduced == 0
    rows = res.contradictions.collect()
    assert len(rows) == 1
    assert rows[0].rule_id == "r#deduced-wrong"
    assert rows[0].bindings == {"X": "Q1", "Y": "Q2"}


# ---------------------------------------------------------------------------
# Transitivity through the plain semi-naive loop
# ---------------------------------------------------------------------------

META_TRANS = R(
    "transitive",
    [P("?R", "~", "Trans"), P("?X", "?R", "?Y"), P("?Y", "?R", "?Z")],
    P("?X", "?R", "?Z"),
)


def test_transitive_doubling_differential_deep_chain(spark, monkeypatch):
    """Deep chain under the wikidata-style meta-rule: the fixpoint matches
    the Datalog oracle, and the distributed loop quiesces in O(log depth)
    rounds — the delta joins the full extent at the other position, so
    path length doubles per round."""
    monkeypatch.setattr(single_task, "LOCAL_ROWS", 0)
    depth = 48
    facts = [(f"n{i:03d}", "p", f"n{i + 1:03d}") for i in range(depth)]
    facts += [("p", "~", "Trans")]
    res = run_fixpoint(_df(spark, facts), [META_TRANS])
    got = _edge_set(res.edges)
    assert got == oracle.stratified_fixpoint(set(map(tuple, facts)), [META_TRANS])
    assert res.iterations <= 2 + math.ceil(math.log2(depth))
    assert verify_fixpoint(res, [META_TRANS])


def test_transitive_membership_discovered_mid_fixpoint(spark, monkeypatch):
    """The transitive-predicate SET is data and can grow during the run
    (e.g. wikidata.zph's transitive-inverse rule): a membership fact
    deduced in round 1 must make the meta-rule close its predicate — in the
    kernel, and in the loop, whose var-pred guard domain grows from the
    delta."""
    mark = R("mark", [P("?P", "mark", "yes")], P("?P", "~", "Trans"))
    depth = 16
    facts = [(f"m{i:02d}", "p", f"m{i + 1:02d}") for i in range(depth)]
    facts += [("p", "mark", "yes")]
    want = oracle.stratified_fixpoint(set(map(tuple, facts)), [META_TRANS, mark])
    for res in _both_paths(spark, monkeypatch, facts, [META_TRANS, mark]):
        got = _edge_set(res.edges)
        assert got == want
        assert ("m00", "p", f"m{depth:02d}") in got


def test_transitive_const_shape_differential(spark, monkeypatch):
    part_of = R(
        "po-trans", [P("?a", "part", "?b"), P("?b", "part", "?c")], P("?a", "part", "?c")
    )
    facts = [("w", "part", "x"), ("x", "part", "y"), ("y", "part", "z"),
             ("q", "other", "w")]
    want = oracle.stratified_fixpoint(set(facts), [part_of])
    for res in _both_paths(spark, monkeypatch, facts, [part_of]):
        got = _edge_set(res.edges)
        assert got == want
        assert ("w", "part", "z") in got
        assert verify_fixpoint(res, [part_of])


def test_taxonomy_fixpoint_matches_oracle(spark, monkeypatch):
    """A taxonomy with a transitive subclass chain under the full wikidata
    ruleset: the kernel and the distributed loop (per-round anti-join
    against base plus the accumulated deltas) both match the Datalog
    oracle."""
    facts = sorted(
        {(f"Q{i}", "P31", f"Q{100 + i % 7}") for i in range(40)}
        | {(f"Q{100 + i}", "P279", f"Q{100 + i + 1}") for i in range(6)}
        | {("P279", "~", "Trans")}
    )
    want = oracle.stratified_fixpoint(set(facts), Rz.wikidata_rules())
    for res in _both_paths(spark, monkeypatch, facts, Rz.wikidata_rules()):
        assert _edge_set(res.edges) == want
        assert verify_fixpoint(res, Rz.wikidata_rules())


def test_inherit_factoring_differential(spark, monkeypatch):
    """[r6] Chain-inheritance factoring (split_inherit + deferred closure-
    image injection) must be invisible semantically: the loop's fixpoint
    equals the independent Datalog oracle on a corpus that exercises a DEEP
    subclass chain (one injection instead of one s-hop per round), the
    haspart-isa interleaving, and the facet variant of the same shape. The
    facet specs share s = P1269, so one closure_image call serves several
    of them, and later injections read only the p facts landed since the
    last one: both facts sources run through the one injection path."""
    monkeypatch.setattr(single_task, "LOCAL_ROWS", 0)
    chain = [(f"N{i}", "P279", f"N{i+1}") for i in range(9)]
    facts = sorted(
        set(chain)
        | {("N9", "P527", "PARTX"), ("PARTX", "P31", "KX"),
           ("N0", "P31", "K0"), ("F0", "P1269", "N3"),
           ("A", "P461", "N5"), ("A", "P31", "KA")}
    )
    res = run_fixpoint(_df(spark, facts), Rz.wikidata_rules())
    got = _edge_set(res.edges)
    assert got == oracle.stratified_fixpoint(set(facts), Rz.wikidata_rules())
    # the deep chain actually inherited: the bottom subclass carries the
    # top's part, transitively lifted to its class too
    assert ("N0", "P527", "PARTX") in got
    assert ("N0", "P527", "KX") in got
    # facet inheritance (same factored shape, s = P1269) composed as well
    assert ("F0", "P527", "PARTX") in got
    # the factored loop quiesces in fewer rounds than the chain is deep
    assert res.iterations < len(chain)
    s_of = {sp.rule_id: sp.s for sp in split_inherit(Rz.wikidata_rules())[1]}
    injections = [
        [spec.rsplit(":", 1) for spec in e["specs"]]
        for e in res.log if e.get("stratum") == "inherit"
    ]
    assert any(
        sum(s_of[rule_id] == Rz.FACET for rule_id, _ in inj) > 1
        for inj in injections
    )
    assert any(kind == "incr" for inj in injections for _, kind in inj)
    assert verify_fixpoint(res, Rz.wikidata_rules())


def test_fuse_shape_mode_differential(spark, monkeypatch):
    """[r6] The per-shape fused evaluation (one join pair per (j1, j2)
    shape) in the distributed loop, and the kernel, match the Datalog
    oracle on a corpus that exercises every pair shape in the wikidata
    ruleset plus singles, NAF-free recursion and the inheritance
    interleaving."""
    chain = [(f"N{i}", "P279", f"N{i+1}") for i in range(6)]
    facts = sorted(
        set(chain)
        | {("N6", "P527", "PARTX"), ("PARTX", "P31", "KX"),
           ("N0", "P31", "K0"), ("F0", "P1269", "N3"),
           ("A", "P461", "B"), ("A", "P31", "KA"),
           ("C", "P1696", "D"), ("C", "P31", "KC")}
    )
    want = oracle.stratified_fixpoint(set(facts), Rz.wikidata_rules())
    for res in _both_paths(spark, monkeypatch, facts, Rz.wikidata_rules()):
        assert _edge_set(res.edges) == want


# ---------------------------------------------------------------------------
# In-task kernel path (reasoning/kernel.py) vs the distributed loop
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("ids", ["string", "long"])
def test_kernel_matches_loop_and_oracle(spark, fixture_facts, monkeypatch, ids):
    rules = Rz.wikidata_rules()
    facts = fixture_facts
    want = oracle.stratified_fixpoint(facts, rules)
    if ids == "long":
        # descending ids: code order must follow id order, not name order
        names = sorted({t for f in facts for t in f} | Rz.rule_constants(rules))
        node = {v: 10**12 - 7 * i for i, v in enumerate(names)}
        facts = {tuple(node[t] for t in f) for f in facts}
        want = {tuple(node[t] for t in f) for f in want}
        rules = Rz.resolve_rules(rules, node)
    edges = _df(spark, sorted(facts))
    kern = run_fixpoint(edges, rules)
    assert kern.log[0]["stratum"] == "kernel"
    assert "declined" not in kern.log[0]
    assert kern.iterations == kern.log[0]["iter"] > 1
    monkeypatch.setattr(single_task, "LOCAL_ROWS", 0)
    loop = run_fixpoint(edges, rules)
    assert loop.log[0] == {"stratum": "kernel", "declined": "budget"}
    got = _edge_set(kern.edges)
    assert got == _edge_set(loop.edges) == want
    assert kern.edges.count() == len(want)
    assert _edge_set(kern.deduced) == want - facts
    assert kern.n_deduced == loop.n_deduced == len(want) - len(facts)
    assert verify_fixpoint(kern, rules)


@pytest.mark.parametrize("extra", ["naf", "unequal"])
def test_kernel_declines_outside_fragment(spark, monkeypatch, extra):
    facts = [("p", "P31", Rz.TRANSITIVE), ("a", "p", "b"), ("b", "p", "c"),
             ("x", "q", "x"), ("c", "q", "c")]
    if extra == "naf":
        rule = R("naf-isolated", [P("?X", "q", "?X"), P("a", "p", "?X")],
                 P("?X", "flag", "isolated"), negated=(1,))
    else:
        rule = R("ne", [P("?X", "p", "?Y")], P("?X", "ne", "?Y"),
                 unequals=(("?X", "?Y"),))
    rules = Rz.wikidata_rules() + [rule]
    res = run_fixpoint(_df(spark, facts), rules)
    assert res.log[0] == {"stratum": "kernel", "declined": "fragment"}
    monkeypatch.setattr(single_task, "LOCAL_ROWS", 0)
    pinned = run_fixpoint(_df(spark, facts), rules)
    got = _edge_set(res.edges)
    assert got == _edge_set(pinned.edges)
    assert got == oracle.stratified_fixpoint(set(facts), rules)


def test_kernel_overflow_leaves_no_failed_task(spark, monkeypatch):
    # the known facts outgrow the cap mid-saturation: the overflow comes
    # back as data, no task fails, and the distributed loop takes over
    depth = 48
    facts = [(f"n{i:03d}", "p", f"n{i + 1:03d}") for i in range(depth)]
    facts += [("p", "~", "Trans")]
    monkeypatch.setattr(kernel, "ROW_CAP", depth + 10)
    sc = spark.sparkContext
    group = "test-fixpoint-kernel-overflow"
    sc.setJobGroup(group, "fixpoint kernel overflow")
    try:
        res = run_fixpoint(_df(spark, facts), [META_TRANS])
        got = _edge_set(res.edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [
        tracker.getStageInfo(sid)
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    ]
    assert stages
    assert sum(st.numFailedTasks for st in stages if st) == 0
    assert res.log[0] == {"stratum": "kernel", "declined": "fixpoint overflow"}
    assert got == oracle.stratified_fixpoint(set(facts), [META_TRANS])


@pytest.mark.parametrize("rows", [2_000_000, 0], ids=["kernel", "loop"])
def test_linear_recursion_deeper_than_100_rounds(spark, monkeypatch, rows):
    """One new fact per round for 106 rounds: both paths saturate
    completely (the loop once stopped at round 100 and dropped the delta
    it had just computed)."""
    monkeypatch.setattr(single_task, "LOCAL_ROWS", rows)
    depth = 105
    facts = [(f"n{i:03d}", "next", f"n{i + 1:03d}") for i in range(depth)]
    facts += [(f"n{depth:03d}", "mark", "yes")]
    back = R("back", [P("?X", "next", "?Y"), P("?Y", "mark", "yes")],
             P("?X", "mark", "yes"))
    res = run_fixpoint(_df(spark, facts), [back])
    got = _edge_set(res.edges)
    assert got == set(facts) | {(f"n{i:03d}", "mark", "yes") for i in range(depth)}
    assert res.iterations == depth + 1
    assert res.n_deduced == depth
