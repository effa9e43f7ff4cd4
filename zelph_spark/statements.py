"""Reified statements (qualifier import) + constraint-rule generation
(SURVEY.md §2.1 S3/S4/S5).

Mirrors ``Wikidata::process_qualifier_entry`` (``wikidata.cpp:1188-1386``):
only claims that HAVE qualifiers are materialized, as a statement node
wired with four predicates:

    (entity,  p:P,            statement_id)
    (statement_id, ps:P,      main_value)      when the mainsnak has a value
    (statement_id, pq:Q,      qualifier_value) per selected qualifier snak
    (statement_id, wikibase:rank, wikibase:{Normal,Preferred,Deprecated}Rank)

Snak values follow ``parse_snak_value`` (``wikidata.cpp:1149-1185``):
entity ids verbatim, time/quantity/monolingualtext/string as raw scalars,
novalue/somevalue/geo skipped and counted. Statement ids keep their ``$``
(they ARE statement nodes here, unlike the main import where ``$`` ids are
rejected as objects).

S5: properties' own P2302 property-constraint statements compile to
contradiction rules (``wikidata.cpp:401-547``): conflicts-with
(Q21502838, qualifiers P2306 property / P2305 values) and none-of
(Q52558054, P2305 values); the scope constraint (Q53869507) is symbolic in
the reference (comment output) and is recorded but generates no rule.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .rules import P as Pat, Rule
from .session import literal

STATEMENT_SCHEMA = "subj string, pred string, obj string"

_RE_ENTITY_ID = re.compile(r'"id":"([^"]*)"')
_RE_STATEMENT_ID = re.compile(r'"id":"([^"]*\$[^"]*)"')
_RE_SNAKTYPE = re.compile(r'"snaktype":"([^"]*)"')
_RE_PROPERTY = re.compile(r'"property":"([^"]*)"')
_RE_RANK = re.compile(r'"rank":"([^"]*)"')

RANK_NODES = {
    "normal": "wikibase:NormalRank",
    "preferred": "wikibase:PreferredRank",
    "deprecated": "wikibase:DeprecatedRank",
}

CONSTRAINT_PRED = "P2302"
CONFLICTS_WITH = "Q21502838"
NONE_OF = "Q52558054"
SCOPE = "Q53869507"


def _matching_brace(s: str, open_pos: int) -> int:
    """Index of the '}' matching s[open_pos] == '{'; -1 if unbalanced.
    Mirrors find_matching_brace (string-literal aware scanning is not needed
    for the rendered fixtures; real dumps escape braces inside strings)."""
    depth = 0
    in_str = False
    i = open_pos
    while i < len(s):
        c = s[i]
        if in_str:
            if c == "\\":
                i += 2
                continue
            if c == '"':
                in_str = False
        elif c == '"':
            in_str = True
        elif c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return -1


def parse_snak_value(snak: str) -> str | None:
    """wikidata.cpp:1149-1185: value snaks only; entity-id / time / quantity
    / monolingualtext / string; everything else (geo, novalue, somevalue)
    yields None."""
    m = _RE_SNAKTYPE.search(snak)
    if not m or m.group(1) != "value":
        return None
    dv = snak.find('"datavalue":')
    if dv == -1:
        return None
    dvo = snak.find("{", dv)
    if dvo == -1:
        return None
    dvc = _matching_brace(snak, dvo)
    body = snak[dvo : dvc + 1]
    # the datavalue's own "type" trails the value object: take the LAST one
    types = re.findall(r'"type":"([^"]*)"', body)
    dtype = types[-1] if types else None
    tag = {
        "wikibase-entityid": '"id":"',
        "time": '"time":"',
        "quantity": '"amount":"',
        "monolingualtext": '"text":"',
        "string": '"value":',
    }.get(dtype)
    if tag is None:
        return None
    if dtype == "string":
        m2 = re.search(r'"value":"([^"]*)"', body)
        return m2.group(1) if m2 else None
    m2 = re.search(re.escape(tag) + r'([^"]*)"', body)
    return m2.group(1) if m2 else None


def parse_statements(
    line: str, selected_qualifiers: set[str] | None = None
) -> list[tuple[str, str, str]]:
    """One dump line -> reified statement triples (see module docstring)."""
    m = _RE_ENTITY_ID.search(line)
    if not m:
        return []
    entity_id = m.group(1)
    if not entity_id or entity_id[0] not in ("Q", "P"):
        return []

    out: list[tuple[str, str, str]] = []
    claim_tag = '{"mainsnak":{"snaktype":'
    pos = m.end()
    while True:
        cpos = line.find(claim_tag, pos)
        if cpos == -1:
            break
        cend = _matching_brace(line, cpos)
        if cend == -1:
            break
        pos = cend + 1
        claim = line[cpos : cend + 1]

        qtag = claim.find('"qualifiers":{')
        if qtag == -1:
            continue  # statements without qualifiers are not materialized
        qopen = qtag + len('"qualifiers":{') - 1
        qclose = _matching_brace(claim, qopen)
        if qclose == -1:
            continue
        quals_body = claim[qopen : qclose + 1]

        qualifier_values: list[tuple[str, str]] = []
        qpos = 1
        while qpos < len(quals_body) - 1:
            k = re.compile(r'"(P\d+)":\[').search(quals_body, qpos)
            if not k:
                break
            qprop = k.group(1)
            arr_open = k.end() - 1
            # scan snaks in this array
            p2 = arr_open + 1
            while p2 < len(quals_body):
                snak_open = quals_body.find("{", p2)
                arr_close = quals_body.find("]", p2)
                if snak_open == -1 or (arr_close != -1 and arr_close < snak_open):
                    p2 = arr_close + 1 if arr_close != -1 else len(quals_body)
                    break
                snak_close = _matching_brace(quals_body, snak_open)
                if snak_close == -1:
                    p2 = len(quals_body)
                    break
                if selected_qualifiers is None or qprop in selected_qualifiers:
                    v = parse_snak_value(quals_body[snak_open : snak_close + 1])
                    if v is not None:
                        qualifier_values.append((qprop, v))
                p2 = snak_close + 1
            qpos = p2

        if not qualifier_values:
            continue
        sid = _RE_STATEMENT_ID.search(claim)
        if not sid:
            continue
        statement_id = sid.group(1)
        mp = _RE_PROPERTY.search(claim)
        if not mp or not mp.group(1).startswith("P"):
            continue
        main_prop = mp.group(1)

        # main value from the mainsnak object
        ms = claim.find('"mainsnak":')
        mso = claim.find("{", ms + len('"mainsnak":') - 1)
        msc = _matching_brace(claim, mso)
        main_value = parse_snak_value(claim[mso : msc + 1]) if msc != -1 else None

        rank_m = _RE_RANK.search(claim)
        rank_node = RANK_NODES.get(rank_m.group(1)) if rank_m else None

        out.append((entity_id, f"p:{main_prop}", statement_id))
        if main_value is not None:
            out.append((statement_id, f"ps:{main_prop}", main_value))
        for qprop, v in qualifier_values:
            out.append((statement_id, f"pq:{qprop}", v))
        if rank_node:
            out.append((statement_id, "wikibase:rank", rank_node))
    return out


def extract_statements(
    lines: DataFrame,
    selected_qualifiers: list[str] | None = None,
    line_col: str = "line",
) -> DataFrame:
    """Distributed reified-statement extraction over dump lines (S3)."""
    sel = set(selected_qualifiers) if selected_qualifiers else None

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for line in pdf[line_col]:
                rows.extend(parse_statements(line, sel))
            yield pd.DataFrame(rows, columns=["subj", "pred", "obj"])

    return lines.select(line_col).mapInPandas(scan, schema=STATEMENT_SCHEMA)


def disjointness_rules() -> list[Rule]:
    """The P2738/P11260 disjoint-union violation workload
    (``dev_scripts/wikidata-disjointness-violations.zph:3-4``): a class C
    declares via a P2738 ("disjoint union of") statement S that the classes
    listed as P11260 qualifiers of S partition it; any K below two listed
    classes at once — by subclass (P279) or by instance (P31) — violates the
    disjointness.  Two 5-condition conjunction contradiction rules over the
    reified p:/pq: layer (the qualifier import names its predicates
    ``p:P2738`` / ``pq:P11260``, wikidata.cpp:1322-1366; the paper query in
    ``test_wikidata_qualifiers.cpp:144`` uses the same layer).

    Faithful to the reference: NO inequality guard between ?A and ?B —
    zelph's unification lets distinct variables bind the same node (verified
    against the compiled reference binary: the rule fires with a single
    listed class), so ?A = ?B firings are part of the contract."""
    return [
        Rule(
            "disjoint-p279",
            (
                Pat("?C", "p:P2738", "?S"),
                Pat("?S", "pq:P11260", "?A"),
                Pat("?S", "pq:P11260", "?B"),
                Pat("?K", "P279", "?A"),
                Pat("?K", "P279", "?B"),
            ),
        ),
        Rule(
            "disjoint-p31",
            (
                Pat("?C", "p:P2738", "?S"),
                Pat("?S", "pq:P11260", "?A"),
                Pat("?S", "pq:P11260", "?B"),
                Pat("?X", "P31", "?A"),
                Pat("?X", "P31", "?B"),
            ),
        ),
    ]


def drop_deprecated_statements(statements: DataFrame) -> DataFrame:
    """Remove every row of statements whose statement node carries
    ``wikibase:rank wikibase:DeprecatedRank`` — the relational form of the
    paper query's ``MINUS { ?l wikibase:rank wikibase:DeprecatedRank }``
    (test_wikidata_qualifiers.cpp:158).  Deprecated statements are a small
    fraction of a dump but NOT a bounded one (~1% of 1.5B statements is
    tens of millions of rows), so the build side is left to AQE: it
    broadcasts when the runtime size allows and falls back to a shuffled
    anti-join on the statement id otherwise — never an unconditional
    broadcast of an unbounded set."""
    dep = (
        statements.filter(
            (F.col("pred") == "wikibase:rank")
            & (F.col("obj") == "wikibase:DeprecatedRank")
        )
        .select(F.col("subj").alias("stmt"))
        .distinct()
    )
    out = statements
    for side in ("subj", "obj"):
        d = dep.withColumnRenamed("stmt", f"_dep_{side}")
        out = out.join(d, out[side] == d[f"_dep_{side}"], "left_anti")
    return out


def constraint_rules(statements: DataFrame) -> tuple[list[Rule], DataFrame]:
    """S5: compile P2302 constraint statements into contradiction Rules.

    Returns (rules, rules_table). The statements table is queried
    relationally; only the (small) constraint set reaches the driver —
    properties with constraints number in the thousands, not billions.
    """
    p = statements.alias("p")
    ps = statements.alias("ps")
    con = (
        p.filter(F.col("p.pred") == f"p:{CONSTRAINT_PRED}")
        .join(
            ps.filter(F.col("ps.pred") == f"ps:{CONSTRAINT_PRED}"),
            F.col("p.obj") == F.col("ps.subj"),
        )
        .select(
            F.col("p.subj").alias("prop"),
            F.col("p.obj").alias("stmt"),
            F.col("ps.obj").alias("ctype"),
        )
    )
    quals = statements.filter(F.col("pred").startswith("pq:")).select(
        F.col("subj").alias("stmt"), F.col("pred").alias("qpred"),
        F.col("obj").alias("qval"),
    )
    joined = con.join(quals, "stmt", "left").collect()

    by_stmt: dict[str, dict] = {}
    for r in joined:
        d = by_stmt.setdefault(
            r.stmt, {"prop": r.prop, "ctype": r.ctype, "P2306": [], "P2305": []}
        )
        if r.qpred == "pq:P2306":
            d["P2306"].append(r.qval)
        elif r.qpred == "pq:P2305":
            d["P2305"].append(r.qval)

    rules: list[Rule] = []
    table_rows = []
    for stmt, d in sorted(by_stmt.items()):
        prop, ctype = d["prop"], d["ctype"]
        if ctype == CONFLICTS_WITH and d["P2306"]:
            conflict_p = d["P2306"][0]  # reference takes the first (wikidata.cpp:422)
            if not d["P2305"]:
                rules.append(Rule(
                    f"c-conflict-{prop}-{conflict_p}",
                    (Pat("?I", prop, "?Y"), Pat("?I", conflict_p, "?Z")),
                ))
                table_rows.append((prop, "conflicts-with", conflict_p, None))
            else:
                for q in d["P2305"]:
                    rules.append(Rule(
                        f"c-conflict-{prop}-{conflict_p}-{q}",
                        (Pat("?I", prop, "?Y"), Pat("?I", conflict_p, q)),
                    ))
                    table_rows.append((prop, "conflicts-with", conflict_p, q))
        elif ctype == NONE_OF:
            for q in d["P2305"]:
                rules.append(Rule(
                    f"c-noneof-{prop}-{q}", (Pat("?I", prop, q),)
                ))
                table_rows.append((prop, "none-of", None, q))
        elif ctype == SCOPE:
            table_rows.append((prop, "scope", None, d["P2305"][0] if d["P2305"] else None))

    return rules, literal(
        statements.sparkSession, table_rows,
        "pred string, rule_kind string, param_prop string, param_value string",
    )
