"""SPARQL-subset text frontend (SURVEY.md §2.6 Q1/Q13/Q14).

zelph parses its SPARQL subset with a Janet PEG (``stdlib/sparql.zph:126-280``)
and evaluates per-solution through the C unification engine. Here the parser
is a small recursive-descent over the same documented subset
(``sparql.zph:18-35``) and the evaluator is the existing DataFrame algebra
(:mod:`zelph_spark.query` + the rule compiler) — one engine for rules,
native queries, and SPARQL, preserving the homoiconic design.

Supported (mirroring the subset + rejection list at sparql.zph:18-35):
PREFIX declarations (well-known Wikidata prefixes built in, declared ones
expand to full IRIs then pass the same Wikidata-IRI stripping,
``sparql.zph:104-123,307-332``), SELECT [DISTINCT] ?v...|*,
``{ SELECT ... }`` subqueries (``sparql.zph:1016``, test_sparql.cpp
subquery corpus), WHERE { BGP with ``;``/``,`` lists, OPTIONAL, MINUS,
UNION, FILTER }, FILTER comparisons with ``str(?x)`` (node name) and
``lang(?x)`` (always "" — zelph has no language-tagged literals,
``sparql.zph:824-825``) and typed numeric comparison for bare number
literals, property paths ``p+``/``p*`` and sequences ``p1/p2``,
GROUP BY + COUNT/COUNT(DISTINCT), ORDER BY ASC/DESC, LIMIT.

Rejected with errors: BIND, VALUES, SERVICE, CONSTRUCT, ASK, EXISTS,
HAVING, other aggregates (sparql.zph:33-35), and a bare ``p*`` step whose
two ends are unbound variables not constrained by any other pattern in the
group (``sparql.zph:735``, "ludicrous results" — test_sparql.cpp:338).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from . import query as Q
from .closure import (
    closure_with_start,
    compose,
    transitive_closure,
    transitive_sources,
    transitive_targets,
)
from .rules import Pattern

_REJECT = re.compile(
    r"\b(BIND|VALUES|SERVICE|CONSTRUCT|ASK|EXISTS|HAVING|SUM|AVG|MIN|MAX|GROUP_CONCAT|SAMPLE)\b",
    re.IGNORECASE,
)

# Each SPARQL prefix maps to the node-name prefix used in the wikidata
# language (sparql.zph:106-110): wd:/wdt: strip entirely, the reified
# statement layer keeps its prefix as part of the node name.
WIKIDATA_PREFIXES = {
    "wd": "", "wdt": "",
    "p": "p:", "pq": "pq:", "ps": "ps:",
    "psv": "psv:", "pqv": "pqv:", "wdtn": "wdtn:",
    "wikibase": "wikibase:",
}

# Full-IRI prefixes map the same way; more specific first (sparql.zph:115-122).
WD_IRI_PREFIXES = [
    ("http://www.wikidata.org/entity/", ""),
    ("http://www.wikidata.org/prop/direct/", ""),
    ("http://www.wikidata.org/prop/qualifier/", "pq:"),
    ("http://www.wikidata.org/prop/statement/", "ps:"),
    ("http://www.wikidata.org/prop/", "p:"),
    ("http://wikiba.se/ontology#", "wikibase:"),
]

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<lbrace>\{) | (?P<rbrace>\}) |
        (?P<dot>\.(?!\d)) | (?P<semi>;) | (?P<comma>,) |
        (?P<kw>OPTIONAL|MINUS|UNION|FILTER)\b |
        (?P<var>[?$][A-Za-z_][A-Za-z0-9_]*) |
        (?P<iri><[^<>\s]*>) |
        (?P<literal>"[^"]*"|'[^']*') |
        (?P<number>-?\d+(?:\.\d+)?) |
        (?P<path>[A-Za-z_][A-Za-z0-9_:.\-]*[+*]?(?:/[A-Za-z_][A-Za-z0-9_:.\-]*[+*]?)+) |
        (?P<name>[A-Za-z_][A-Za-z0-9_:.\-]*[+*]?) |
        (?P<cmp><=|>=|!=|=|<|>) |
        (?P<star>\*) |
        (?P<lpar>\() | (?P<rpar>\))
    )""",
    re.VERBOSE,
)


class SparqlError(ValueError):
    pass


def _tokenize(s: str):
    pos, out = 0, []
    while pos < len(s):
        if s[pos:].strip() == "":
            break
        m = _TOKEN.match(s, pos)
        if not m:
            raise SparqlError(f"cannot tokenize at: {s[pos:pos + 30]!r}")
        pos = m.end()
        for k, v in m.groupdict().items():
            if v is not None:
                out.append((k, v))
                break
    return out


def _strip_wd_iri(iri: str) -> str:
    """Strip well-known Wikidata IRI prefixes to node names; unknown IRIs
    keep their FULL IRI as the node name (sparql.zph:288-299 +
    test_sparql.cpp custom-PREFIX case: the graph node is the full IRI)."""
    for iri_pfx, name_pfx in WD_IRI_PREFIXES:
        if iri.startswith(iri_pfx):
            return name_pfx + iri[len(iri_pfx):]
    return iri


def _resolve_name(name: str, prefixes: dict[str, str]) -> str:
    """pname resolution (sparql.zph:307-332): well-known prefixes map to
    node-name prefixes; declared prefixes expand to the full IRI which then
    passes the same Wikidata-IRI stripping; unknown prefixed names pass
    through verbatim."""
    if ":" not in name:
        return name
    pfx, local = name.split(":", 1)
    if pfx in WIKIDATA_PREFIXES:
        return WIKIDATA_PREFIXES[pfx] + local
    if pfx in prefixes:
        return _strip_wd_iri(prefixes[pfx] + local)
    return name


class _Parser:
    """Token parser for SELECT statements and WHERE groups; produces an
    algebra tree of ('bgp'|'join'|'optional'|'minus'|'union'|'filter'|
    'select', ...) nodes. Terms are prefix-resolved at parse time."""

    def __init__(self, tokens, prefixes=None):
        self.toks = tokens
        self.i = 0
        self.prefixes = prefixes or {}

    def peek(self, ahead: int = 0):
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else (None, None)

    def eat(self, kind=None, value=None):
        k, v = self.peek()
        if kind and k != kind or (value and v.upper() != value):
            raise SparqlError(f"expected {value or kind}, got {v!r}")
        self.i += 1
        return (k, v)

    # -- terms ---------------------------------------------------------

    def _resolve(self, tok):
        kind, v = tok
        if kind == "iri":
            return _strip_wd_iri(v[1:-1])
        if kind == "literal":
            return v[1:-1]
        if kind in ("name", "path"):
            # sequence structure comes from the TOKEN (a resolved node name
            # may itself contain '/' — full-IRI nodes): elements are joined
            # with \x00, a byte that cannot appear in names or IRIs
            mod_parts = []
            for part in v.split("/"):
                mod = part[-1] if part and part[-1] in "+*" else ""
                mod_parts.append(
                    _resolve_name(part.rstrip("+*"), self.prefixes) + mod
                )
            return PATH_SEP.join(mod_parts)
        return v  # var, number

    def _term(self):
        k, v = self.peek()
        if k in ("var", "iri", "literal", "name", "path", "number"):
            self.eat()
            return self._resolve((k, v))
        raise SparqlError(f"expected term, got {v!r}")

    # -- SELECT statements ----------------------------------------------

    def select_stmt(self):
        """SELECT [DISTINCT] proj WHERE group [GROUP BY|ORDER BY|LIMIT]* —
        usable at top level AND inside braces ({ SELECT ... } subqueries,
        sparql.zph:1016)."""
        self.eat("name", "SELECT")
        distinct = False
        k, v = self.peek()
        if k == "name" and v.upper() == "DISTINCT":
            self.eat()
            distinct = True
        proj: list | str = []
        while True:
            k, v = self.peek()
            if k == "star":
                self.eat()
                proj = "*"
            elif k == "var":
                self.eat()
                proj.append(("var", v[1:]))
            elif k == "lpar":
                proj.append(self._count_spec())
            elif k == "name" and v.upper() == "WHERE":
                break
            else:
                raise SparqlError(f"unexpected token in projection: {v!r}")
        self.eat("name", "WHERE")
        tree = self.group()
        group_by: list[str] = []
        order = None
        limit = None
        while True:
            k, v = self.peek()
            if k != "name":
                break
            kw = v.upper()
            if kw == "GROUP":
                self.eat()
                self.eat("name", "BY")
                while self.peek()[0] == "var":
                    group_by.append(self.eat()[1][1:])
            elif kw == "ORDER":
                self.eat()
                self.eat("name", "BY")
                dirn = "ASC"
                k2, v2 = self.peek()
                if k2 == "name" and v2.upper() in ("ASC", "DESC"):
                    dirn = v2.upper()
                    self.eat()
                if self.peek()[0] == "lpar":
                    self.eat("lpar")
                    var = self.eat("var")[1][1:]
                    self.eat("rpar")
                else:
                    var = self.eat("var")[1][1:]
                order = (dirn, var)
            elif kw == "LIMIT":
                self.eat()
                limit = int(self.eat("number")[1])
            else:
                break
        return ("select", distinct, proj, tree, group_by, order, limit)

    def _count_spec(self):
        """(COUNT([DISTINCT] ?v|*) [AS ?alias]) -> ('count', distinct,
        target_or_None, alias)."""
        self.eat("lpar")
        self.eat("name", "COUNT")
        self.eat("lpar")
        dist = False
        k, v = self.peek()
        if k == "name" and v.upper() == "DISTINCT":
            self.eat()
            dist = True
        k, v = self.peek()
        if k == "star":
            self.eat()
            target = None
        else:
            target = self.eat("var")[1][1:]
        self.eat("rpar")
        alias = "count"
        k, v = self.peek()
        if k == "name" and v.upper() == "AS":
            self.eat()
            alias = self.eat("var")[1][1:]
        self.eat("rpar")
        return ("count", dist, target, alias)

    # -- WHERE groups ----------------------------------------------------

    def group(self):
        """{ ... } -> algebra node."""
        self.eat("lbrace")
        node = None
        triples: list[tuple] = []

        def flush():
            nonlocal node, triples
            if triples:
                bgp = ("bgp", triples)
                node = bgp if node is None else ("join", node, bgp)
                triples = []

        while True:
            k, v = self.peek()
            if k is None:
                raise SparqlError("unexpected end of query in group")
            if k == "rbrace":
                self.eat("rbrace")
                flush()
                return node or ("bgp", [])
            if k == "kw" and v.upper() == "OPTIONAL":
                self.eat()
                flush()
                node = ("optional", node or ("bgp", []), self.group())
            elif k == "kw" and v.upper() == "MINUS":
                self.eat()
                flush()
                node = ("minus", node or ("bgp", []), self.group())
            elif k == "kw" and v.upper() == "FILTER":
                self.eat()
                flush()
                self.eat("lpar")
                expr = self._filter_expr()
                self.eat("rpar")
                node = ("filter", node or ("bgp", []), expr)
            elif k == "lbrace":
                k2, v2 = self.peek(1)
                if k2 == "name" and v2.upper() == "SELECT":
                    self.eat("lbrace")
                    sub = self.select_stmt()
                    self.eat("rbrace")
                else:
                    sub = self.group()
                while True:
                    kk, vv = self.peek()
                    if kk == "kw" and vv.upper() == "UNION":
                        self.eat()
                        k3, v3 = self.peek(1)
                        if k3 == "name" and v3.upper() == "SELECT":
                            self.eat("lbrace")
                            right = self.select_stmt()
                            self.eat("rbrace")
                        else:
                            right = self.group()
                        sub = ("union", sub, right)
                    else:
                        break
                flush()
                node = sub if node is None else ("join", node, sub)
            else:
                triples.extend(self._triple_block())
                k2, _ = self.peek()
                if k2 == "dot":
                    self.eat("dot")

    def _filter_expr(self):
        """cmp expression with optional extra parens:
        arg op arg | ( expr )   (test_sparql.cpp str() idiom uses
        ``FILTER ( ( str(?a) < str(?b) ) )``)."""
        if self.peek()[0] == "lpar":
            self.eat("lpar")
            e = self._filter_expr()
            self.eat("rpar")
            return e
        lhs = self._filter_arg()
        op = self.eat("cmp")[1]
        rhs = self._filter_arg()
        return (lhs, op, rhs)

    def _filter_arg(self):
        """var | literal | number | str(?v) | lang(?v) — the operand forms
        of sparql.zph:815-831."""
        k, v = self.peek()
        if k == "lpar":
            self.eat("lpar")
            a = self._filter_arg()
            self.eat("rpar")
            return a
        if k == "name" and v.lower() in ("str", "lang"):
            fname = v.lower()
            self.eat()
            self.eat("lpar")
            var = self.eat("var")[1]
            self.eat("rpar")
            return (fname, var)
        if k == "var":
            self.eat()
            return ("var", v)
        if k == "number":
            self.eat()
            return ("number", v)
        if k == "literal":
            self.eat()
            return ("literal", v[1:-1])
        raise SparqlError(f"unsupported FILTER operand: {v!r}")

    def _triple_block(self):
        """subject pred obj (;/,-lists, sparql.zph predicate-object lists)."""
        out = []
        subj = self._term()
        while True:
            pred = self._term()
            obj = self._term()
            out.append((subj, pred, obj))
            k, _ = self.peek()
            while k == "comma":  # same subject+pred, more objects
                self.eat("comma")
                out.append((subj, pred, self._term()))
                k, _ = self.peek()
            if k == "semi":  # same subject, next predicate
                self.eat("semi")
                continue
            return out


PATH_SEP = "\x00"


def _path_slice(edges: DataFrame, name: str, memo: dict) -> DataFrame:
    """Distinct, materialized (subj, obj) slice for one predicate — the
    analog of zelph's cached per-predicate index (zelph.cpp:44-47),
    memoized per query like sparql.zph:75-78 memoizes path closures."""
    key = ("slice", name)
    if key not in memo:
        memo[key] = (
            edges.filter(F.col("pred") == name)
            .select("subj", "obj")
            .distinct()
            .localCheckpoint()
        )
    return memo[key]


def _edges_for_path(edges: DataFrame, pred: str, memo: dict) -> DataFrame:
    """Resolve a path element to a (subj, obj) slice: plain predicate,
    ``p+``, ``p*``, or a ``p1/p2`` sequence (sparql.zph:345-361,652-811).
    Full closures are memoized per query (sparql.zph:75-78), so a path
    element appearing twice costs one closure computation."""
    if pred in memo:
        return memo[pred]
    if PATH_SEP in pred:
        # Chain left-to-right so a '*' element can build its zero-length
        # pairs over the ACTUAL input domain (the previous elements' range)
        # instead of only over nodes present in its predicate slice —
        # closure_with_start's identity set is slice-scoped, which silently
        # dropped intermediates with no edges in the '*' predicate.
        parts = pred.split(PATH_SEP)
        if parts[0].endswith("*"):
            # '?x p*/rest ?y' ≡ rest(x,y) ∪ (p+ ⨝ rest): zero p-hops keep
            # the rest-path pairs verbatim, so the zero-hop subject domain
            # is the rest path's own — SPARQL zero-hop semantics without
            # materializing any identity set (was slice-scoped identity,
            # which under-returned x nodes with rest edges but no p edges).
            rest = _edges_for_path(edges, PATH_SEP.join(parts[1:]), memo)
            plus = _edges_for_path(edges, parts[0][:-1] + "+", memo)
            ext = compose(plus, rest)
            out = rest.select("subj", "obj").unionByName(ext).distinct()
        else:
            acc = _edges_for_path(edges, parts[0], memo)
            for el in parts[1:]:
                acc = _chain_step(edges, acc, el, memo)
            out = acc
    else:
        mod = pred[-1] if pred[-1] in "+*" else ""
        name = pred.rstrip("+*")
        base = _path_slice(edges, name, memo)
        if mod == "+":
            out = transitive_closure(base, prepared=True)
        elif mod == "*":
            out = closure_with_start(base, prepared=True)
        else:
            out = base
    memo[pred] = out
    return out


def _chain_step(
    edges: DataFrame, acc: DataFrame, el: str, memo: dict
) -> DataFrame:
    """Join one sequence element onto accumulated (subj, obj) pairs.
    ``p*`` = zero hops (keep the row) ∪ the '+' closure extension — identity
    over the input domain, matching the reference's per-solution evaluation
    (sparql.zph:792-811 chains elements against the current solution)."""
    if el.endswith("*"):
        plus = _edges_for_path(edges, el[:-1] + "+", memo)
        ext = compose(acc, plus)
        return acc.select("subj", "obj").unionByName(ext).distinct()
    return compose(acc, _edges_for_path(edges, el, memo)).distinct()


def _seeded_path_pairs(
    edges: DataFrame, pred: str, seeds: DataFrame, forward: bool, memo: dict
) -> DataFrame:
    """Bound-end path evaluation (zelph.cpp:267-296; sparql.zph:652-747
    binds path ends per solution): compute only the closure cone of the
    seed set instead of the full-graph closure — the difference between
    touching one node's ancestors and materializing a quadratic closure on
    a dense taxonomy.  Returns (subj, obj) pairs restricted to the cone."""
    mod = pred[-1] if pred[-1] in "+*" else ""
    name = pred.rstrip("+*")
    base = _path_slice(edges, name, memo)
    start = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    if not mod:
        # plain element inside a seeded sequence: a single hop from the
        # seed set, not a closure
        key = "subj" if forward else "obj"
        return (
            base.join(start, base[key] == start["node"])
            .select("subj", "obj")
            .distinct()
        )
    include_start = mod == "*"
    if forward:
        out = transitive_targets(
            base, start, include_start=include_start, prepared=True
        )
        return out.select(
            F.col("start").alias("subj"), F.col("node").alias("obj")
        )
    out = transitive_sources(
        base, start, include_start=include_start, prepared=True
    )
    return out.select(F.col("node").alias("subj"), F.col("start").alias("obj"))


def _seeded_sequence_pairs(
    edges: DataFrame, pred: str, seeds: DataFrame, forward: bool, memo: dict
) -> DataFrame:
    """Bound-end SEQUENCE path: thread the seed cone through the elements
    (left-to-right when the subject end is bound, right-to-left otherwise)
    so each element traverses only the previous element's frontier instead
    of materializing its full-graph closure (the reference binds path ends
    per solution for every path shape, sparql.zph:652-811; r3 gave simple
    ``p+``/``p*`` steps this treatment, this extends it to sequences).
    A '*' element contributes zero-length pairs over the current frontier
    domain via include_start — the seeded fix for closure_with_start's
    slice-scoped identity.  Returns (subj, obj) pairs restricted to the
    cone."""
    parts = pred.split(PATH_SEP)
    if not forward:
        parts = list(reversed(parts))
    acc = None
    for el in parts:
        if acc is None:
            step_seeds = seeds
        else:
            inner = "obj" if forward else "subj"
            step_seeds = acc.select(F.col(inner).alias("node")).distinct()
        step = _seeded_path_pairs(edges, el, step_seeds, forward, memo)
        if acc is None:
            acc = step
        elif forward:
            acc = compose(acc, step).distinct()
        else:
            acc = compose(step, acc).distinct()
    return acc


def _bound_vars(node) -> set[str]:
    """Variables a tree node can bind (for the both-unbound-* check)."""
    kind = node[0]
    if kind == "bgp":
        return {
            t[1:] for tr in node[1] for t in tr if isinstance(t, str) and t.startswith("?")
        }
    if kind in ("join", "optional", "minus", "union"):
        return _bound_vars(node[1]) | _bound_vars(node[2])
    if kind == "filter":
        return _bound_vars(node[1])
    if kind == "select":
        proj = node[2]
        if proj == "*":
            return _bound_vars(node[3])
        return {p[1] for p in proj if p[0] == "var"} | {
            p[3] for p in proj if p[0] == "count"
        }
    return set()


def _eval(node, edges: DataFrame, ctx: DataFrame | None = None,
          memo: dict | None = None) -> DataFrame:
    """Evaluate an algebra node.  ``ctx`` is the solutions DataFrame
    accumulated by the patterns already evaluated to the LEFT of this node —
    the relational form of zelph's sequential per-solution evaluation
    (sparql.zph:551-568): a later pattern sees earlier bindings, which is
    what lets a property path whose end variable was bound upstream run as
    a seeded cone traversal instead of a full-graph closure."""
    if memo is None:
        memo = {}
    kind = node[0]
    if kind == "bgp":
        plain = [t for t in node[1] if not _is_path(t[1])]
        paths = [t for t in node[1] if _is_path(t[1])]
        sols = ctx
        other_bound = set(ctx.columns) if ctx is not None else set()
        other_bound |= {
            t[1:] for tr in plain for t in tr if t.startswith("?")
        }
        if plain:
            bdf = Q.bgp(edges, [Pattern(*t) for t in plain])
            sols = bdf if sols is None else Q.join(sols, bdf)

        def is_bound(t):
            return t.startswith("?") and sols is not None and t[1:] in sols.columns

        for s, p, o in paths:
            simple = PATH_SEP not in p
            mod = p[-1] if p[-1] in "+*" else ""
            s_const, o_const = not s.startswith("?"), not o.startswith("?")
            if (not simple or mod) and (
                s_const or o_const or is_bound(s) or is_bound(o)
            ):
                # Q12 seeded evaluation: at least one end is a constant or
                # bound by the already-evaluated patterns — traverse only
                # that end's cone (zelph.cpp:267-296).
                spark = edges.sparkSession
                if s_const:
                    seeds = spark.range(1).select(F.lit(s).alias("node"))
                    forward = True
                elif o_const:
                    seeds = spark.range(1).select(F.lit(o).alias("node"))
                    forward = False
                elif is_bound(s):
                    seeds = sols.select(s[1:])
                    forward = True
                else:
                    seeds = sols.select(o[1:])
                    forward = False
                if simple:
                    pairs = _seeded_path_pairs(edges, p, seeds, forward, memo)
                else:
                    pairs = _seeded_sequence_pairs(
                        edges, p, seeds, forward, memo
                    )
            else:
                if (
                    p.endswith("*") and simple
                    and s.startswith("?") and o.startswith("?")
                    and s[1:] not in other_bound and o[1:] not in other_bound
                ):
                    # sparql.zph:735 — a bare * step with both ends unbound
                    # relates every node to itself ("ludicrous results")
                    raise SparqlError(
                        "Property path with both ends unbound is not "
                        "supported for *"
                    )
                pairs = _edges_for_path(edges, p, memo)
            pdf = _bind_pair(pairs, s, o)
            sols = pdf if sols is None else Q.join(sols, pdf)
            other_bound |= {t[1:] for t in (s, o) if t.startswith("?")}
        if sols is None:
            raise SparqlError("empty group pattern")
        return sols
    if kind == "join":
        left = _eval(node[1], edges, ctx, memo)
        return _eval(node[2], edges, left, memo)
    if kind == "optional":
        out = Q.optional(
            _eval(node[1], edges, ctx, memo), _eval(node[2], edges, None, memo)
        )
        return out
    if kind == "minus":
        return Q.minus(
            _eval(node[1], edges, ctx, memo), _eval(node[2], edges, None, memo)
        )
    if kind == "union":
        out = Q.union(
            _eval(node[1], edges, None, memo), _eval(node[2], edges, None, memo)
        )
        return out if ctx is None else Q.join(ctx, out)
    if kind == "filter":
        _, child, (lhs, op, rhs) = node
        df = _eval(child, edges, ctx, memo)
        numeric = "number" in (lhs[0], rhs[0])

        def col(arg):
            akind, v = arg
            if akind in ("var", "str"):
                # str(?x) = the node's name — node values ARE name strings
                # in this engine (sparql.zph:824: node-key)
                c = F.col(v[1:])
            elif akind == "lang":
                # no language-tagged literals in zelph: lang() is always ""
                # (sparql.zph:824-825)
                c = F.lit("")
            elif akind == "number":
                c = F.lit(float(v))
            else:  # literal
                c = F.lit(v)
            return c.cast("double") if numeric else c

        lc, rc = col(lhs), col(rhs)
        cond = {
            "=": lc == rc, "!=": lc != rc, "<": lc < rc,
            ">": lc > rc, "<=": lc <= rc, ">=": lc >= rc,
        }[op]
        return df.where(cond)
    if kind == "select":
        # subqueries have their own scope: evaluate independently, then
        # join with the outer accumulated solutions (sparql.zph:1016)
        out = _eval_select(node, edges, memo)
        return out if ctx is None else Q.join(ctx, out)
    raise SparqlError(f"unknown node {kind}")


def _eval_select(node, edges: DataFrame, memo: dict | None = None) -> DataFrame:
    _, distinct, proj, tree, group_by, order, limit = node
    sols = _eval(tree, edges, None, memo if memo is not None else {})
    counts = [p for p in proj if proj != "*" and p[0] == "count"]
    if counts:
        _, dist, target, alias = counts[0]
        gvars = group_by or [p[1] for p in proj if p[0] == "var"]
        sols = Q.group_count(
            sols if gvars else sols.withColumn("_g", F.lit(1)),
            gvars or ["_g"],
            count_var=target,
            distinct_count=dist,
            alias=alias,
        )
        if not gvars:
            sols = sols.drop("_g")
    elif proj != "*":
        sols = sols.select(*[p[1] for p in proj])
    if distinct:
        sols = sols.dropDuplicates()
    if order:
        dirn, var = order
        c = F.col(var)
        sols = sols.orderBy(c.desc() if dirn == "DESC" else c.asc())
    if limit is not None:
        sols = sols.limit(limit)
    return sols


def _is_path(p: str) -> bool:
    return not p.startswith("?") and (
        PATH_SEP in p or p.endswith("+") or p.endswith("*")
    )


def _bind_pair(pairs: DataFrame, s: str, o: str) -> DataFrame:
    if s.startswith("?") and s == o:
        # ?x p+ ?x — cycle membership: intra-row subj == obj filter and ONE
        # output column, mirroring bind_condition's repeated-variable
        # handling for plain triples (compiler.py:50-57).  Without this,
        # both ends alias to the same column name and column resolution
        # fails with AMBIGUOUS_REFERENCE.
        return (
            pairs.filter(F.col("subj") == F.col("obj"))
            .select(F.col("subj").alias(s[1:]))
            .distinct()
        )
    cols = []
    out = pairs
    if s.startswith("?"):
        cols.append(F.col("subj").alias(s[1:]))
    else:
        out = out.filter(F.col("subj") == s)
    if o.startswith("?"):
        cols.append(F.col("obj").alias(o[1:]))
    else:
        out = out.filter(F.col("obj") == o)
    if not cols:
        cols = [F.lit(True).alias("_matched")]
    return out.select(*cols).distinct()


def sparql(edges: DataFrame, text: str) -> DataFrame:
    """Run a SPARQL-subset SELECT over an edge DataFrame (subj, pred, obj
    as names — join against the names table upstream if starting from ids).
    Returns a solutions DataFrame with variable-named columns."""
    m = _REJECT.search(text)
    if m:
        raise SparqlError(f"unsupported SPARQL feature: {m.group(0)} "
                          "(subset per stdlib/sparql.zph:18-35)")
    toks = _tokenize(text)
    p = _Parser(toks)
    # PREFIX declarations (sparql.zph:171,182): PREFIX name: <iri>
    while True:
        k, v = p.peek()
        if k == "name" and v.upper() == "PREFIX":
            p.eat()
            pname = p.eat("name")[1]
            if not pname.endswith(":"):
                raise SparqlError(f"malformed PREFIX name: {pname!r}")
            iri = p.eat("iri")[1][1:-1]
            p.prefixes[pname[:-1]] = iri
        else:
            break
    node = p.select_stmt()
    if p.peek()[0] is not None:
        raise SparqlError(f"trailing tokens after query: {p.peek()[1]!r}")
    return _eval_select(node, edges)
