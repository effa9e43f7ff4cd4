"""Property-based tests (hypothesis) over the pure-Python kernels the
distributed plans wrap: the dump-line extraction kernel that runs inside the
Arrow UDF (extract.parse_entity_line mirrors wikidata.cpp:659-896), the
mention n-gram oracle, the SPARQL tokenizer, the JVM memory-size
normalizer, and the in-task fixpoint kernel (against the independent
Datalog oracle). No SparkSession — these pin kernel totality/determinism on
adversarial inputs that example-based tests cannot enumerate (the 100 TB
argument for the extract stage is precisely "any byte garbage in a dump
line must not kill the executor batch")."""

from __future__ import annotations

import re

import numpy as np
import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st

import datalog_oracle as oracle
from zelph_spark import rules as Rz
from zelph_spark.extract import extract_mentions, parse_entity_line
from zelph_spark.reasoning.kernel import saturate
from zelph_spark.rules import P, R
from zelph_spark.session import _jvm_size
from zelph_spark.sparql import SparqlError, _tokenize

# keep CI cheap and deterministic: bounded examples, no wall-clock deadline
# (a loaded sandbox must not flake a property that is about VALUES)
COMMON = settings(max_examples=200, deadline=None)


# --- extract.parse_entity_line -------------------------------------------


@COMMON
@given(st.text(max_size=400))
def test_parse_entity_line_total_and_deterministic(line):
    """Arbitrary text never raises (a throw inside the Arrow batch would
    fail the whole executor task — documented divergence from the
    reference's throw, wikidata.cpp:720-723) and is pure."""
    r1 = parse_entity_line(line)
    r2 = parse_entity_line(line)
    assert r1 == r2
    eid, label, triples = r1
    for pred, obj in triples:
        assert pred.startswith("P")
        assert "$" not in obj
    if eid is not None:
        assert "$" not in eid


_ids = st.integers(min_value=1, max_value=10**9)


def _dump_line(qid: int, label: str | None, claims: list[tuple[int, int]]) -> str:
    """Minimal well-formed dump line in the exact shape the reference scans
    (entity id, optional en label, one single-claim property array per
    claim)."""
    parts = [f'{{"type":"item","id":"Q{qid}"']
    if label is not None:
        parts.append(
            f',"labels":{{"en":{{"language":"en","value":"{label}"}}}}'
        )
    if claims:
        claim_strs = []
        for p, o in claims:
            claim_strs.append(
                f'"P{p}":[{{"mainsnak":{{"snaktype":"value",'
                f'"property":"P{p}","datavalue":{{"value":'
                f'{{"entity-type":"item","numeric-id":{o},"id":"Q{o}"}},'
                f'"type":"wikibase-entityid"}}}},"rank":"normal"}}]'
            )
        parts.append(',"claims":{' + ",".join(claim_strs) + "}")
    parts.append("}")
    return "".join(parts)


@COMMON
@given(
    qid=_ids,
    label=st.one_of(
        st.none(),
        st.text(
            alphabet=st.characters(
                codec="ascii", exclude_characters='"\\{}$', min_codepoint=32
            ),
            min_size=1,
            max_size=30,
        ),
    ),
    claims=st.lists(st.tuples(_ids, _ids), max_size=6, unique_by=lambda c: c[0]),
)
def test_parse_entity_line_roundtrips_planted_claims(qid, label, claims):
    """A well-formed line yields exactly the planted entity/label/claims —
    the P/R=1.0 extraction property, quantified over random inputs instead
    of the fixed golden fixture."""
    line = _dump_line(qid, label, claims)
    eid, got_label, triples = parse_entity_line(line)
    assert eid == f"Q{qid}"
    assert got_label == label
    assert triples == [(f"P{p}", f"Q{o}") for p, o in claims]


@COMMON
@given(
    qid=_ids,
    claims=st.lists(st.tuples(_ids, _ids), max_size=4, unique_by=lambda c: c[0]),
)
def test_parse_entity_line_skips_dollar_objects(qid, claims):
    """Objects containing '$' (statement GUIDs leaking into the id slot) are
    dropped claim-by-claim, mirroring the reference's guard."""
    claims = [(p, o) for p, o in claims if o != qid]
    line = _dump_line(qid, None, claims)
    line = line.replace(f'"id":"Q{claims[0][1]}"', '"id":"Q$bad"', 1) if claims else line
    eid, _, triples = parse_entity_line(line)
    assert eid == f"Q{qid}"
    assert all("$" not in o for _, o in triples)


# --- extract.extract_mentions ---------------------------------------------


@COMMON
@given(st.text(max_size=200), st.integers(min_value=1, max_value=4))
def test_extract_mentions_positions_are_faithful(body, max_ngram):
    toks = re.findall(r"[a-z0-9]+", body.lower())
    out = extract_mentions(body, max_ngram=max_ngram)
    expected_count = sum(
        max(0, len(toks) - n + 1) for n in range(1, max_ngram + 1)
    )
    assert len(out) == expected_count
    for surface, i in out:
        n = surface.count(" ") + 1
        assert n <= max_ngram
        assert " ".join(toks[i : i + n]) == surface


# --- sparql tokenizer ------------------------------------------------------


@COMMON
@given(st.text(max_size=200))
def test_sparql_tokenizer_total_or_sparql_error(text):
    """The tokenizer either tokenizes or raises SparqlError — never any
    other exception type (a stray ValueError would surface as an opaque
    driver crash instead of a query error)."""
    try:
        toks = _tokenize(text)
    except SparqlError:
        return
    assert isinstance(toks, list)
    assert all(isinstance(k, str) and isinstance(v, str) for k, v in toks)


# --- session._jvm_size -----------------------------------------------------


@COMMON
@given(
    n=st.integers(min_value=1, max_value=10**6),
    suffix=st.sampled_from(["", "k", "m", "g", "t", "K", "M", "G", "T"]),
    b=st.sampled_from(["", "b", "B"]),
    pad_l=st.text(alphabet=" ", max_size=3),
    pad_r=st.text(alphabet=" ", max_size=3),
)
def test_jvm_size_normalizes_every_spark_legal_form(n, suffix, b, pad_l, pad_r):
    out = _jvm_size(f"{pad_l}{n}{suffix}{b}{pad_r}")
    assert re.fullmatch(r"[0-9]+[kmgt]?", out)
    assert out == f"{n}{suffix.lower()}"
    # idempotent: the normalized form is itself accepted
    assert _jvm_size(out) == out


@COMMON
@given(st.text(max_size=20))
def test_jvm_size_rejects_garbage_rather_than_emitting_bad_flags(s):
    if re.fullmatch(r"\s*[0-9]+\s*[kKmMgGtT]?[bB]?\s*", s):
        assert re.fullmatch(r"[0-9]+[kmgt]?", _jvm_size(s))
    else:
        with pytest.raises(ValueError):
            _jvm_size(s)


# --- reasoning.kernel.saturate ---------------------------------------------


def _saturate(facts, rules, cap=10**6):
    """Code the facts and rule constants in sorted order (as the
    single-task runner does), saturate, decode: base plus deduced."""
    names = sorted({t for f in facts for t in f} | Rz.rule_constants(rules))
    code = {v: i for i, v in enumerate(names)}
    s, p, o = (
        np.array([code[f[k]] for f in facts], dtype=np.int64)
        for k in range(3)
    )
    ds, dp, do, rounds = saturate(
        s, p, o, len(names), Rz.resolve_rules(rules, code), cap
    )
    deduced = {
        (names[a], names[b], names[c])
        for a, b, c in zip(ds.tolist(), dp.tolist(), do.tolist())
    }
    assert len(deduced) == len(ds)  # no duplicates
    assert not deduced & set(facts)  # deduced facts only
    return set(facts) | deduced, rounds


_WD_ENTS = [f"Q{i}" for i in range(8)]
_WD_PREDS = [Rz.ISA, Rz.SUB, Rz.FACET, Rz.PART_OF, Rz.HAS_PART, Rz.OPP,
             Rz.INV, Rz.QUAL]


@COMMON
@given(
    facts=st.sets(
        st.tuples(
            st.sampled_from(_WD_ENTS),
            st.sampled_from(_WD_PREDS),
            st.sampled_from(_WD_ENTS),
        ),
        max_size=24,
    ),
    core=st.sets(st.sampled_from(Rz.WIKIDATA_CORE_FACTS)),
)
def test_kernel_matches_oracle_on_wikidata_rules(facts, core):
    facts = facts | core | set(Rz.BASE_FACTS)
    got, _ = _saturate(facts, Rz.wikidata_rules())
    assert got == oracle.stratified_fixpoint(facts, Rz.wikidata_rules())


# hand rules for the shapes the wikidata set lacks
_HAND_RULES = [
    # variable predicate bound by a membership condition (transitivity)
    R("trans", [P("?R", "kind", "trans"), P("?X", "?R", "?Y"),
                P("?Y", "?R", "?Z")], P("?X", "?R", "?Z")),
    # variable predicate left unbound, in both positions of the consequence
    R("swap", [P("?R", "inv", "?S"), P("?X", "?R", "?Y")],
      P("?Y", "?S", "?X")),
    R("uses", [P("?X", "?R", "?Y"), P("?R", "kind", "sym")],
      P("?X", "uses", "?R")),
    # extra consequences, one with a constant absent from every fact
    R("split", [P("?X", "a", "?Y")],
      [P("?Y", "b", "?X"), P("?X", "tag", "never-in-facts")]),
    # repeated variables, including a variable predicate that repeats
    R("loop", [P("?X", "b", "?X")], P("?X", "kind", "sym")),
    R("self", [P("?X", "?R", "?X")], P("?R", "selfloop", "?X")),
    # three conditions, one sharing no variable with the first
    R("cross", [P("?X", "c", "?Y"), P("x0", "a", "?Z"), P("?Y", "c", "?Z")],
      P("?X", "c2", "?Z")),
]
_HAND_ENTS = ["x0", "x1", "x2", "x3", "a", "b", "c"]
_HAND_PREDS = ["a", "b", "c", "inv", "kind"]


@COMMON
@given(
    facts=st.sets(
        st.tuples(
            st.sampled_from(_HAND_ENTS),
            st.sampled_from(_HAND_PREDS),
            st.sampled_from(_HAND_ENTS + ["trans", "sym"]),
        ),
        max_size=16,
    ),
    rules=st.sets(st.sampled_from(range(len(_HAND_RULES))), min_size=1),
)
def test_kernel_matches_oracle_on_hand_rules(facts, rules):
    rules = [_HAND_RULES[i] for i in sorted(rules)]
    got, _ = _saturate(facts, rules)
    assert got == oracle.stratified_fixpoint(facts, rules)


def test_kernel_cycle_rounds_and_overflow():
    # a 3-cycle under the transitivity rule: full closure incl. self-loops
    facts = {("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a"),
             ("p", "kind", "trans")}
    got, rounds = _saturate(facts, _HAND_RULES[:1])
    assert {(x, "p", y) for x in "abc" for y in "abc"} <= got
    assert rounds <= 4
    # the row cap bounds the known facts
    with pytest.raises(OverflowError):
        _saturate(facts, _HAND_RULES[:1], cap=len(facts) + 2)


def test_kernel_caps_one_rounds_candidates():
    # k facts, two rules with k candidates each that dedupe to one new
    # fact: the known facts (k + 1) and every table (k) fit a cap of
    # 2k - 1, one round's 2k candidates do not
    k = 8
    facts = {(f"x{i}", "r", "y") for i in range(k)}
    rules = [R(f"to-{i}", [P("?X", "r", "?Y")], P("?Y", "s", "z"))
             for i in range(2)]
    got, _ = _saturate(facts, rules, cap=2 * k)
    assert got == facts | {("y", "s", "z")}
    with pytest.raises(OverflowError):
        _saturate(facts, rules, cap=2 * k - 1)
