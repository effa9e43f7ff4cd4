"""Reified statements (S3/S4) + constraint-rule generation (S5)."""

from __future__ import annotations

from pyspark.sql import functions as F

import datalog_oracle as oracle
from zelph_spark import datagen, statements
from zelph_spark.rules import Pattern


def _line(eid):
    ent = next(e for e in datagen.fixture_entities() if e["id"] == eid)
    return datagen.render_line(ent)


def test_parse_statements_qualified_claim_only():
    got = set(statements.parse_statements(_line("Q900")))
    sid = "Q900$P39-0"
    assert got == {
        ("Q900", "p:P39", sid),
        (sid, "ps:P39", "Q901"),
        (sid, "pq:P580", "+2001-01-01T00:00:00Z"),
        (sid, "pq:P582", "+2005-01-01T00:00:00Z"),
        (sid, "wikibase:rank", "wikibase:NormalRank"),
    }
    # the unqualified P39 claim and the P31 claim materialize nothing


def test_parse_statements_qualifier_filter():
    got = set(statements.parse_statements(_line("Q900"), {"P580"}))
    sid = "Q900$P39-0"
    assert (sid, "pq:P580", "+2001-01-01T00:00:00Z") in got
    assert not any(p == "pq:P582" for _, p, _ in got)


def test_parse_snak_value_kinds():
    mk = datagen._render_snak_body
    assert statements.parse_snak_value(mk("P1", ("item", "Q42"))) == "Q42"
    assert statements.parse_snak_value(
        mk("P1", ("time", "+2020-01-01T00:00:00Z"))) == "+2020-01-01T00:00:00Z"
    assert statements.parse_snak_value(mk("P1", ("quantity", "+42"))) == "+42"
    assert statements.parse_snak_value(mk("P1", ("string", "hello"))) == "hello"
    assert statements.parse_snak_value(mk("P1", ("somevalue",))) is None
    assert statements.parse_snak_value(mk("P1", ("novalue",))) is None


def test_extract_statements_distributed(spark, tmp_path):
    lines = [datagen.render_line(e) for e in datagen.fixture_entities()]
    f = tmp_path / "d.json"
    f.write_text("\n".join(lines))
    from zelph_spark.sources import dump

    ldf = dump.read_dump_lines(spark, str(f))
    st = statements.extract_statements(ldf)
    got = {(r.subj, r.pred, r.obj) for r in st.collect()}
    want = set()
    for e in datagen.fixture_entities():
        want |= set(statements.parse_statements(datagen.render_line(e)))
    assert got == want
    assert len(got) > 5


def test_constraint_rules(spark, tmp_path):
    lines = [datagen.render_line(e) for e in datagen.fixture_entities()]
    f = tmp_path / "d.json"
    f.write_text("\n".join(lines))
    from zelph_spark.sources import dump

    st = statements.extract_statements(dump.read_dump_lines(spark, str(f)))
    rules, table = statements.constraint_rules(st)
    by_id = {r.rule_id: r for r in rules}
    # conflicts-with: (I P9000 Y, I P31 Q5) => !
    cw = by_id["c-conflict-P9000-P31-Q5"]
    assert cw.is_contradiction
    assert cw.conditions == (
        Pattern("?I", "P9000", "?Y"), Pattern("?I", "P31", "Q5"))
    # none-of: (I P9001 Q902) => !
    no = by_id["c-noneof-P9001-Q902"]
    assert no.conditions == (Pattern("?I", "P9001", "Q902"),)
    kinds = {(r.rule_kind) for r in table.collect()}
    assert kinds == {"conflicts-with", "none-of"}
    # generated rules actually fire through the engine
    from zelph_spark.reasoning import evaluate_contradictions
    from zelph_spark.reasoning.fused import fuse_contradiction_rules
    import pandas as pd

    edges = spark.createDataFrame(
        pd.DataFrame(
            [("x", "P9000", "y"), ("x", "P31", "Q5"), ("z", "P9001", "Q902")],
            columns=["subj", "pred", "obj"],
        )
    )
    cons = evaluate_contradictions(edges, rules)
    fired = {r.rule_id for r in cons.collect()}
    assert fired == {"c-conflict-P9000-P31-Q5", "c-noneof-P9001-Q902"}
    # both fused shapes bind like the oracle: the none-of rule is a single,
    # the conflicts-with rule a pair
    groups = fuse_contradiction_rules(rules)
    assert no.rule_id in {s["rule_id"] for s in groups.single}
    assert cw.rule_id in {s["rule_id"] for v in groups.pairs.values() for s in v}
    got = {(r.rule_id, frozenset(r.bindings.items())) for r in cons.collect()}
    facts = {(r.subj, r.pred, r.obj) for r in edges.collect()}
    assert got == oracle.contradiction_bindings(facts, rules)


def _disjointness_fixture_lines():
    """Structural mirror of test_wikidata_qualifiers.cpp's dump fixture:
    Q100 declares a P2738 disjoint-union statement listing Q101/Q102 (plus
    a P580 time qualifier, rank normal); Q150 is a DEPRECATED decoy making
    the same declaration; Q200 has a deprecated qualified P39 statement and
    an unqualified P31 claim (materializes nothing of the P31)."""
    ents = [
        {"id": "Q100", "labels": {"en": "test union class"}, "claims": [
            ("P2738", ("item", "Q900"),
             [("P11260", ("item", "Q101")), ("P11260", ("item", "Q102")),
              ("P580", ("time", "+2020-01-01T00:00:00Z"))]),
        ]},
        {"id": "Q150", "labels": {"en": "deprecated decoy"}, "claims": [
            ("P2738", ("item", "Q901"),
             [("P11260", ("item", "Q101")), ("P11260", ("item", "Q102"))],
             "deprecated"),
        ]},
        {"id": "Q200", "labels": {"en": "test office"}, "claims": [
            ("P39", ("item", "Q30185"),
             [("P580", ("time", "+1999-05-01T00:00:00Z")),
              ("P1111", ("quantity", "+42")),
              ("P582", ("novalue",))],
             "deprecated"),
            ("P31", ("item", "Q5")),
        ]},
    ]
    return [datagen.render_line(e) for e in ents]


def test_qualifier_import_materializes_statement_structures():
    """Mirror of test_wikidata_qualifiers.cpp:82-117 ('full import
    materializes statement structures') through the render->parse path."""
    got = set()
    for line in _disjointness_fixture_lines():
        got |= set(statements.parse_statements(line))
    sid = "Q100$P2738-0"
    assert ("Q100", "p:P2738", sid) in got
    assert (sid, "pq:P11260", "Q101") in got
    assert (sid, "pq:P11260", "Q102") in got
    assert (sid, "ps:P2738", "Q900") in got
    assert (sid, "pq:P580", "+2020-01-01T00:00:00Z") in got
    # deprecated statements materialize WITH their rank node
    bid = "Q200$P39-0"
    assert (bid, "wikibase:rank", "wikibase:DeprecatedRank") in got
    assert (bid, "pq:P580", "+1999-05-01T00:00:00Z") in got
    assert (bid, "pq:P1111", "+42") in got
    # a novalue qualifier must not materialize a fact
    assert not any(p == "pq:P582" for _, p, _ in got)
    # a statement without qualifiers must not be materialized at all
    assert not any(p == "p:P31" for _, p, _ in got)


def test_paper_disjointness_query(spark):
    """Mirror of test_wikidata_qualifiers.cpp:144 ('paper disjointness query
    runs on imported qualifier data'): the violation Q300 P279 {Q101, Q102}
    surfaces through the SPARQL paper query over the reified layer; the
    deprecated decoy declaration is MINUS'd out."""
    import pandas as pd

    from zelph_spark.sparql import sparql

    stmts = []
    for line in _disjointness_fixture_lines():
        stmts += statements.parse_statements(line)
    base = stmts + [
        ("Q300", "P279", "Q101"),
        ("Q300", "P279", "Q102"),
    ]
    edges = spark.createDataFrame(
        pd.DataFrame(base, columns=["subj", "pred", "obj"])
    )
    out = sparql(edges, """SELECT DISTINCT ?i ?class ?disj1 ?disj2 WHERE {
  ?class p:P2738 ?l .
  MINUS { ?l wikibase:rank wikibase:DeprecatedRank . }
  ?l pq:P11260 ?disj1 . ?l pq:P11260 ?disj2 .
  FILTER ( ( str(?disj1) < str(?disj2) ) )
  ?i wdt:P279* ?disj1 . ?i wdt:P279* ?disj2 .
}""")
    got = {tuple(r) for r in out.collect()}
    assert got == {("Q300", "Q100", "Q101", "Q102")}


def test_disjointness_rules_fire_like_reference(spark):
    """The two .zph conjunction contradiction rules
    (dev_scripts/wikidata-disjointness-violations.zph:3-4) over the reified
    layer: K below two listed classes (P279) and X instances of two listed
    classes (P31) both fire; faithful semantics include ?A = ?B bindings
    (verified against the compiled reference binary)."""
    import pandas as pd

    from zelph_spark.reasoning import evaluate_contradictions

    stmts = []
    for line in _disjointness_fixture_lines():
        stmts += statements.parse_statements(line)
    base = stmts + [
        ("Q300", "P279", "Q101"),
        ("Q300", "P279", "Q102"),
        ("Q400", "P31", "Q101"),
        ("Q400", "P31", "Q102"),
        ("Q500", "P279", "Q101"),  # one listed class only
    ]
    edges = spark.createDataFrame(
        pd.DataFrame(base, columns=["subj", "pred", "obj"])
    )
    dropped = statements.drop_deprecated_statements(edges)
    # the decoy's statement rows are gone, Q100's remain
    left = {(r.subj, r.pred, r.obj) for r in dropped.collect()}
    assert not any("Q150$" in s or "Q150$" in o for s, _, o in left)
    assert ("Q100", "p:P2738", "Q100$P2738-0") in left

    cons = evaluate_contradictions(dropped, statements.disjointness_rules())
    got = {
        (r.rule_id, r.bindings.get("K") or r.bindings.get("X"),
         r.bindings["A"], r.bindings["B"])
        for r in cons.collect()
    }
    # cross-pair violations in both orders + the A=B firings
    assert ("disjoint-p279", "Q300", "Q101", "Q102") in got
    assert ("disjoint-p279", "Q300", "Q102", "Q101") in got
    assert ("disjoint-p279", "Q300", "Q101", "Q101") in got
    assert ("disjoint-p31", "Q400", "Q101", "Q102") in got
    # single-membership K fires only the A=B shape
    assert ("disjoint-p279", "Q500", "Q101", "Q101") in got
    assert ("disjoint-p279", "Q500", "Q101", "Q102") not in got
