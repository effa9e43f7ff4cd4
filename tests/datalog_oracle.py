"""Independent pure-Python naive Datalog evaluator used as a differential
oracle for the Spark fixpoint (mirrors the reference's classic-vs-semi-naive
differential testing, test_seminaive.cpp:71 / reasoning_seminaive.cpp:386-407).

Deliberately shares no code with zelph_spark.reasoning: backtracking pattern
matching over Python sets, naive iteration to fixpoint, stratified NAF."""

from __future__ import annotations

from zelph_spark.rules import Rule, is_var

Triple = tuple[str, str, str]


def _match(pat, fact: Triple, binding: dict) -> dict | None:
    b = dict(binding)
    for term, val in zip((pat.subj, pat.pred, pat.obj), fact):
        if is_var(term):
            if term in b:
                if b[term] != val:
                    return None
            else:
                b[term] = val
        elif term != val:
            return None
    return b


def _eval_body(facts: set[Triple], rule: Rule) -> list[dict]:
    bindings = [{}]
    for i in rule.positive:
        pat = rule.conditions[i]
        nxt = []
        for b in bindings:
            for f in facts:
                m = _match(pat, f, b)
                if m is not None:
                    nxt.append(m)
        bindings = nxt
    for a, bvar in rule.unequals:
        bindings = [b for b in bindings if b.get(a) != b.get(bvar)]
    for i in rule.negated:
        pat = rule.conditions[i]
        bindings = [
            b
            for b in bindings
            if not any(_match(pat, f, b) is not None for f in facts)
        ]
    return bindings


def _fire(facts: set[Triple], rule: Rule) -> set[Triple]:
    out = set()
    for b in _eval_body(facts, rule):
        for cons in rule.consequences:
            out.add(
                tuple(
                    b[t] if is_var(t) else t
                    for t in (cons.subj, cons.pred, cons.obj)
                )
            )
    return out


def stratified_fixpoint(facts: set[Triple], rules: list[Rule]) -> set[Triple]:
    """Positive rules to fixpoint, then NAF rules once, alternate until quiet."""
    facts = set(facts)
    positive = [r for r in rules if not r.negated]
    naf = [r for r in rules if r.negated]
    while True:
        changed = True
        while changed:
            changed = False
            for r in positive:
                new = _fire(facts, r) - facts
                if new:
                    facts |= new
                    changed = True
        naf_new = set()
        for r in naf:
            naf_new |= _fire(facts, r) - facts
        if not naf_new:
            return facts
        facts |= naf_new


def contradiction_bindings(
    facts: set[Triple], rules: list[Rule]
) -> set[tuple[str, frozenset]]:
    out = set()
    for r in rules:
        for b in _eval_body(facts, r):
            out.add((r.rule_id, frozenset((k[1:], v) for k, v in b.items())))
    return out
