"""Fused rule evaluation: all same-shape rules in ONE join pair.

Per-rule evaluation costs one plan branch per rule per round; with the
Wikidata ruleset that is ~40 branches, and with S5 constraint-generated
rules (one per property constraint — thousands at full Wikidata, mirroring
zelph's generated .zph rules) it would be unbounded. The classic fix is to
make the RULES data instead of plan structure: group rules by *shape* and
evaluate each shape once, joining the edge table against a broadcast
rules table.

Like zelph, which matches a rule body once and then either inserts the
consequence or records a ``!`` contradiction (``reasoning_deduce.cpp``),
deductions and contradictions share one matcher here. :func:`_shape`
classifies a rule body, :func:`_match` builds the shape's join, and the
two callers differ only in what they add to the rules table and project
from the join:

- :func:`fire_fused` (deductions): consequence selectors, projected to
  ``(subj, pred, obj)`` with :func:`_out_col`;
- :func:`fire_contradictions_fused` (``=> !`` rules): the variable names,
  projected to ``(rule_id, bindings)`` with :func:`_bindings_map`.

Fusable shapes (covers every wikidata.zph deduction rule except the three
variable-predicate meta-rules, which keep the per-rule path):

- ``single``:  (t1s, pa, t1o)                   — one broadcast join
- ``pair(j1,j2)``: (t1s, pa, t1o), (t2s, pb, t2o), where the two
  conditions share exactly one variable sitting at position j1 of c1 and
  j2 of c2 (j ∈ {subj, obj}) — four shapes

Constant subjects/objects become per-rule filter columns (NULL = variable);
consequence terms are selectors into {c1.subj, c1.obj, c2.subj, c2.obj,
constant}. The rules table is tiny and broadcast, so each shape costs one
(edges ⋈ rules) broadcast join plus one (… ⋈ edges) equi-join on
(pred, shared-key) — per-round plan size is CONSTANT in the rule count.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..rules import Rule, is_var
from ..session import literal

# consequence-term selectors
_SEL_C1S, _SEL_C1O, _SEL_C2S, _SEL_C2O, _SEL_CONST = "1S", "1O", "2S", "2O", "C"

_SINGLE = "single"


@dataclass
class FusedGroups:
    single: list[dict]
    pairs: dict[tuple[str, str], list[dict]]  # (j1, j2) -> rule specs
    leftover: list[Rule]


def _const(term):
    return None if is_var(term) else term


def _name(term):
    return term[1:] if is_var(term) else None


def _shape(rule: Rule):
    """``(shape, spec)`` for a fusable rule body, else None (per-rule path).
    ``shape`` is ``_SINGLE`` or ``(j1, j2)``; ``spec`` holds the rule id and
    the condition columns ``pa``/``c1s``/``c1o`` (+ ``pb``/``c2s``/``c2o``).
    Negation, inequalities, variable predicates, a repeated variable inside
    one condition and 3+ conditions keep the per-rule path."""
    conds = rule.conditions
    if (
        rule.negated or rule.unequals or len(conds) not in (1, 2)
        or any(
            is_var(c.pred) or (is_var(c.subj) and c.subj == c.obj)
            for c in conds
        )
    ):
        return None
    c1 = conds[0]
    spec = {"rule_id": rule.rule_id, "pa": c1.pred,
            "c1s": _const(c1.subj), "c1o": _const(c1.obj)}
    if len(conds) == 1:
        return _SINGLE, spec
    c2 = conds[1]
    shared = {t for t in (c1.subj, c1.obj) if is_var(t)} & {
        t for t in (c2.subj, c2.obj) if is_var(t)
    }
    if len(shared) != 1:
        return None
    (sv,) = shared
    spec.update(pb=c2.pred, c2s=_const(c2.subj), c2o=_const(c2.obj))
    return ("subj" if c1.subj == sv else "obj",
            "subj" if c2.subj == sv else "obj"), spec


def _group(rules: list[Rule], extra) -> FusedGroups:
    """Split a ruleset by :func:`_shape`; ``extra(rule, shape)`` returns the
    caller's own rules-table columns, or None to send the rule per-rule."""
    groups = FusedGroups(single=[], pairs={}, leftover=[])
    for r in rules:
        shaped = _shape(r)
        cols = shaped and extra(r, shaped[0])
        if not cols:
            groups.leftover.append(r)
            continue
        shape, spec = shaped
        spec.update(cols)
        if shape == _SINGLE:
            groups.single.append(spec)
        else:
            groups.pairs.setdefault(shape, []).append(spec)
    return groups


def _sel_for(term, c1, c2=None) -> tuple[str, str | None] | None:
    """Map a consequence term to a selector over the condition positions
    (None: the term is bound by no condition)."""
    if not is_var(term):
        return _SEL_CONST, term
    for cond, (s, o) in ((c1, (_SEL_C1S, _SEL_C1O)), (c2, (_SEL_C2S, _SEL_C2O))):
        if cond is not None and term == cond.subj:
            return s, None
        if cond is not None and term == cond.obj:
            return o, None
    return None


def _consequence_cols(r: Rule, shape) -> dict | None:
    if (
        r.is_contradiction or r.extra_consequences or r.fresh_vars
        or is_var(r.consequence.pred)
    ):
        # multi-consequence / fresh-variable rules (R6) need the per-rule
        # path: fresh-id minting + existence guard
        return None
    c = r.consequence
    subj, obj = (_sel_for(t, *r.conditions) for t in (c.subj, c.obj))
    if subj is None or obj is None:
        return None
    return {"outp": c.pred, "outs": subj[0], "outs_c": subj[1],
            "outo": obj[0], "outo_c": obj[1]}


def _binding_names(r: Rule, shape) -> dict | None:
    """Variable names of the condition positions; constants, and c2's copy
    of the shared variable, carry NULL so bindings map keys stay unique."""
    if not r.is_contradiction:
        return None
    c1 = r.conditions[0]
    names = {"n1s": _name(c1.subj), "n1o": _name(c1.obj)}
    if shape != _SINGLE:
        c2 = r.conditions[1]
        sv = c1.subj if shape[0] == "subj" else c1.obj
        names["n2s"] = _name(c2.subj) if c2.subj != sv else None
        names["n2o"] = _name(c2.obj) if c2.obj != sv else None
    return names


def fuse_rules(rules: list[Rule]) -> FusedGroups:
    """Split a deduction ruleset into fused groups + leftover (per-rule)."""
    return _group(rules, _consequence_cols)


def fuse_contradiction_rules(rules: list[Rule]) -> FusedGroups:
    """1- and 2-condition constant-predicate contradiction rules fuse;
    everything else (3-condition patterns, guards, NAF) keeps the per-rule
    path."""
    return _group(rules, _binding_names)


# rules-table columns after the shape's condition columns (_cond_cols)
_OUT_COLS = ["outp", "outs", "outs_c", "outo", "outo_c"]
_NAME_COLS = ["n1s", "n1o", "n2s", "n2o"]
_VALUE_COLS = ("pa", "pb", "c1s", "c1o", "c2s", "c2o", "outp", "outs_c", "outo_c")


_RT_CACHE: dict = {}


def _rules_table(edges: DataFrame, rows, schema: str) -> DataFrame:
    """Broadcastable rules table; node-valued columns cast to the edge
    table's id type (string names or int64 ids after resolve_rules).

    Memoized on (session, id type, schema, rows): a semi-naive fixpoint
    round calls this once per fused shape per delta position with the SAME
    rows round after round, and the Arrow literal + casts is pure driver
    overhead (local data, no dependence on the evolving extent). The cache
    is tiny (a handful of <100-row local frames per ruleset) and keyed by
    applicationId so frames from a stopped session are never reused."""
    spark = edges.sparkSession
    dt = edges.schema["subj"].dataType
    key = (
        spark.sparkContext.applicationId,
        dt.simpleString(),
        schema,
        tuple(rows),
    )
    hit = _RT_CACHE.get(key)
    if hit is not None:
        return hit
    rt = literal(spark, rows, schema)
    for c in _VALUE_COLS:
        if c in rt.columns:
            rt = rt.withColumn(c, F.col(c).cast(dt))
    rt = F.broadcast(rt)
    if len(_RT_CACHE) > 256:
        _RT_CACHE.clear()
    _RT_CACHE[key] = rt
    return rt


def _v(x):
    return None if x is None else str(x)


def _positions(shape) -> list[str]:
    """The join's condition-position columns, in selector order."""
    return ["_s1", "_o1"] + ([] if shape == _SINGLE else ["_s2", "_o2"])


def _aliased(edges: DataFrame, i: int) -> DataFrame:
    return edges.select(
        F.col("subj").alias(f"_s{i}"), F.col("pred").alias(f"_p{i}"),
        F.col("obj").alias(f"_o{i}"),
    )


def _consts_ok(i: int):
    """Condition i's constant subject/object filters (NULL = variable)."""
    return (
        (F.col(f"c{i}s").isNull() | (F.col(f"_s{i}") == F.col(f"c{i}s")))
        & (F.col(f"c{i}o").isNull() | (F.col(f"_o{i}") == F.col(f"c{i}o")))
    )


def _match(
    edges1: DataFrame, edges2: DataFrame, shape, specs: list[dict],
    extra_cols: list[str],
) -> DataFrame:
    """The one join of a shape: condition 1 over ``edges1`` ⋈ the broadcast
    rules table (condition + ``extra_cols`` columns), then, for a pair,
    ⋈ condition 2 over ``edges2`` on (pb, shared key). ``edges1``/
    ``edges2`` let the semi-naive driver bind either side to the delta."""
    cols = _cond_cols(shape) + extra_cols
    rt = _rules_table(
        edges1,
        [tuple(_v(s[c]) for c in cols) for s in specs],
        ", ".join(f"{c} string" for c in cols),
    )
    e1 = _aliased(edges1, 1)
    out = e1.join(rt, e1["_p1"] == rt["pa"]).filter(_consts_ok(1))
    if shape == _SINGLE:
        return out
    j1, j2 = shape
    key1 = F.col("_s1") if j1 == "subj" else F.col("_o1")
    key2 = F.col("_s2") if j2 == "subj" else F.col("_o2")
    return out.join(
        _aliased(edges2, 2), (F.col("pb") == F.col("_p2")) & (key1 == key2)
    ).filter(_consts_ok(2))


def _cond_cols(shape) -> list[str]:
    if shape == _SINGLE:
        return ["rule_id", "pa", "c1s", "c1o"]
    return ["rule_id", "pa", "pb", "c1s", "c1o", "c2s", "c2o"]


def _keep(specs, shape, present_preds, delta_key=None, delta_preds=None):
    """Rules-table prunes: extent restriction (O2 — every condition
    predicate must have facts at all) and the semi-naive predicate index
    (the delta-bound condition's predicate must occur in the delta)."""
    out = specs
    if present_preds is not None:
        keys = ["pa"] if shape == _SINGLE else ["pa", "pb"]
        out = [s for s in out if all(s[k] in present_preds for k in keys)]
    if delta_key is not None and delta_preds is not None:
        out = [s for s in out if s[delta_key] in delta_preds]
    return out


def _shapes(groups: FusedGroups):
    return [(_SINGLE, groups.single), *groups.pairs.items()]


def _out_col(sel_col, const_col, c1s, c1o, c2s=None, c2o=None):
    expr = (
        F.when(F.col(sel_col) == _SEL_C1S, c1s)
        .when(F.col(sel_col) == _SEL_C1O, c1o)
    )
    if c2s is not None:
        expr = expr.when(F.col(sel_col) == _SEL_C2S, c2s).when(
            F.col(sel_col) == _SEL_C2O, c2o
        )
    return expr.otherwise(F.col(const_col))


def fire_fused(
    groups: FusedGroups,
    full: DataFrame,
    delta: DataFrame | None = None,
    delta_preds: set | None = None,
    present_preds: set | None = None,
) -> list[DataFrame]:
    """One round of the fused deduction groups -> (subj, pred, obj) frames.
    ``delta=None`` => classic pass; else one branch per delta position
    (single: 1; pair: 2), each pruned by :func:`_keep`."""

    def fire(e1, e2, shape, specs):
        if not specs:
            return None
        pos = [F.col(c) for c in _positions(shape)]
        return _match(e1, e2, shape, specs, _OUT_COLS).select(
            _out_col("outs", "outs_c", *pos).alias("subj"),
            F.col("outp").alias("pred"),
            _out_col("outo", "outo_c", *pos).alias("obj"),
        )

    # Pairs fire per (j1, j2) shape. Packing all four shapes into one join
    # measured slower (it carries 2x rows through a wider key), and the
    # shape count is bounded at 4, so plan size stays constant in the RULE
    # count either way: the rules table, not shape packing, is what keeps
    # thousand-rule sets cheap (A/B in BASELINE.md).
    outs = []
    for shape, specs in _shapes(groups):
        if delta is None:
            outs.append(fire(full, full, shape, _keep(specs, shape, present_preds)))
            continue
        outs.append(fire(delta, full, shape, _keep(
            specs, shape, present_preds, "pa", delta_preds)))
        if shape != _SINGLE:
            outs.append(fire(full, delta, shape, _keep(
                specs, shape, present_preds, "pb", delta_preds)))
    return [o for o in outs if o is not None]


def _bindings_map(entries):
    """[(name_col, value_col), ...] -> map<string,string> skipping NULL
    names (constants / duplicate shared-var occurrence)."""
    arr = F.array(*[
        F.struct(n.alias("key"), v.cast("string").alias("value"))
        for n, v in entries
    ])
    return F.map_from_entries(F.filter(arr, lambda s: s["key"].isNotNull()))


def fire_contradictions_fused(
    edges: DataFrame, groups: FusedGroups, present_preds: set | None = None
) -> list[DataFrame]:
    """Fused contradiction sweep -> [(rule_id, bindings)] frames."""
    outs = []
    for shape, specs in _shapes(groups):
        specs = _keep(specs, shape, present_preds)
        if not specs:
            continue
        pos = _positions(shape)
        names = _NAME_COLS[: len(pos)]
        outs.append(_match(edges, edges, shape, specs, names).select(
            "rule_id",
            _bindings_map(
                [(F.col(n), F.col(p)) for n, p in zip(names, pos)]
            ).alias("bindings"),
        ))
    return outs
