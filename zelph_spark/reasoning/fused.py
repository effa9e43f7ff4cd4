"""Fused rule evaluation: all same-shape rules in ONE join pair.

Per-rule evaluation costs one plan branch per rule per round; with the
Wikidata ruleset that is ~40 branches, and with S5 constraint-generated
rules (one per property constraint — thousands at full Wikidata, mirroring
zelph's generated .zph rules) it would be unbounded. The classic fix is to
make the RULES data instead of plan structure: group rules by *shape* and
evaluate each shape once, joining the edge table against a broadcast
rules table.

Fusable shapes (covers every wikidata.zph deduction rule except the three
variable-predicate meta-rules, which keep the per-rule path):

- ``single``:  (t1s, pa, t1o) => out            — one broadcast join
- ``pair(j1,j2)``: (t1s, pa, t1o), (t2s, pb, t2o) => out, where the two
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

# consequence-term selectors
_SEL_C1S, _SEL_C1O, _SEL_C2S, _SEL_C2O, _SEL_CONST = "1S", "1O", "2S", "2O", "C"


@dataclass
class FusedGroups:
    single: list[dict]
    pairs: dict[tuple[str, str], list[dict]]  # (j1, j2) -> rule specs
    leftover: list[Rule]


def _sel_for(term, c1, c2=None) -> tuple[str, str | None]:
    """Map a consequence term to a selector over the condition positions."""
    if not is_var(term):
        return _SEL_CONST, term
    if c1 is not None:
        if term == c1.subj:
            return _SEL_C1S, None
        if term == c1.obj:
            return _SEL_C1O, None
    if c2 is not None:
        if term == c2.subj:
            return _SEL_C2S, None
        if term == c2.obj:
            return _SEL_C2O, None
    raise ValueError(f"unbound consequence term {term}")


def fuse_rules(rules: list[Rule]) -> FusedGroups:
    """Split a ruleset into fused groups + leftover (per-rule path)."""
    single: list[dict] = []
    pairs: dict[tuple[str, str], list[dict]] = {}
    leftover: list[Rule] = []
    for r in rules:
        if r.negated or r.unequals or r.is_contradiction:
            leftover.append(r)
            continue
        if r.extra_consequences or r.fresh_vars:
            # multi-consequence / fresh-variable rules (R6) need the
            # per-rule path: fresh-id minting + existence guard
            leftover.append(r)
            continue
        conds = r.conditions
        if any(is_var(c.pred) for c in conds):
            leftover.append(r)
            continue
        try:
            if len(conds) == 1:
                c1 = conds[0]
                if is_var(r.consequence.pred) or (
                    is_var(c1.subj) and c1.subj == c1.obj
                ):
                    leftover.append(r)
                    continue
                ss, sc = _sel_for(r.consequence.subj, c1)
                os_, oc = _sel_for(r.consequence.obj, c1)
                single.append({
                    "rule_id": r.rule_id,
                    "pa": c1.pred,
                    "c1s": None if is_var(c1.subj) else c1.subj,
                    "c1o": None if is_var(c1.obj) else c1.obj,
                    "outp": r.consequence.pred,
                    "outs": ss, "outs_c": sc, "outo": os_, "outo_c": oc,
                })
                continue
            if len(conds) == 2:
                c1, c2 = conds
                v1 = {t for t in (c1.subj, c1.obj) if is_var(t)}
                v2 = {t for t in (c2.subj, c2.obj) if is_var(t)}
                shared = v1 & v2
                if len(shared) != 1 or is_var(r.consequence.pred):
                    leftover.append(r)
                    continue
                sv = next(iter(shared))
                # repeated var inside one condition -> per-rule path
                if c1.subj == c1.obj or c2.subj == c2.obj:
                    leftover.append(r)
                    continue
                j1 = "subj" if c1.subj == sv else "obj"
                j2 = "subj" if c2.subj == sv else "obj"
                ss, sc = _sel_for(r.consequence.subj, c1, c2)
                os_, oc = _sel_for(r.consequence.obj, c1, c2)
                pairs.setdefault((j1, j2), []).append({
                    "rule_id": r.rule_id,
                    "pa": c1.pred, "pb": c2.pred,
                    "c1s": None if is_var(c1.subj) else c1.subj,
                    "c1o": None if is_var(c1.obj) else c1.obj,
                    "c2s": None if is_var(c2.subj) else c2.subj,
                    "c2o": None if is_var(c2.obj) else c2.obj,
                    "outp": r.consequence.pred,
                    "outs": ss, "outs_c": sc, "outo": os_, "outo_c": oc,
                })
                continue
            leftover.append(r)
        except ValueError:
            leftover.append(r)
    return FusedGroups(single=single, pairs=pairs, leftover=leftover)


_SINGLE_SCHEMA = (
    "rule_id string, pa string, c1s string, c1o string, outp string, "
    "outs string, outs_c string, outo string, outo_c string"
)
_PAIR_SCHEMA = (
    "rule_id string, pa string, pb string, c1s string, c1o string, "
    "c2s string, c2o string, outp string, outs string, outs_c string, "
    "outo string, outo_c string"
)


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


_VALUE_COLS = ("pa", "pb", "c1s", "c1o", "c2s", "c2o", "outp", "outs_c", "outo_c")


_RT_CACHE: dict = {}


def _rules_table(edges: DataFrame, rows, schema: str) -> DataFrame:
    """Broadcastable rules table; node-valued columns cast to the edge
    table's id type (string names or int64 ids after resolve_rules).

    Memoized on (session, id type, schema, rows): a semi-naive fixpoint
    round calls this once per fused shape per delta position with the SAME
    rows round after round, and ``createDataFrame`` + casts is pure driver
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
    rt = spark.createDataFrame(rows, schema)
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


def fire_single(edges: DataFrame, specs: list[dict]) -> DataFrame | None:
    """All single-condition rules in one broadcast join."""
    if not specs:
        return None
    rt = _rules_table(
        edges,
        [(s["rule_id"], _v(s["pa"]), _v(s["c1s"]), _v(s["c1o"]), _v(s["outp"]),
          s["outs"], _v(s["outs_c"]), s["outo"], _v(s["outo_c"])) for s in specs],
        _SINGLE_SCHEMA,
    )
    e = edges.select(
        F.col("subj").alias("_s1"), F.col("pred").alias("_p1"),
        F.col("obj").alias("_o1"),
    )
    j = e.join(rt, e["_p1"] == rt["pa"]).filter(
        (F.col("c1s").isNull() | (F.col("_s1") == F.col("c1s")))
        & (F.col("c1o").isNull() | (F.col("_o1") == F.col("c1o")))
    )
    return j.select(
        _out_col("outs", "outs_c", F.col("_s1"), F.col("_o1")).alias("subj"),
        F.col("outp").alias("pred"),
        _out_col("outo", "outo_c", F.col("_s1"), F.col("_o1")).alias("obj"),
    )


def fire_pairs(
    edges1: DataFrame,
    edges2: DataFrame,
    shape: tuple[str, str],
    specs: list[dict],
) -> DataFrame | None:
    """All rules of one pair shape in two joins. ``edges1``/``edges2`` let
    the semi-naive driver bind either side to the delta."""
    if not specs:
        return None
    j1, j2 = shape
    rt = _rules_table(
        edges1,
        [(s["rule_id"], _v(s["pa"]), _v(s["pb"]), _v(s["c1s"]), _v(s["c1o"]),
          _v(s["c2s"]), _v(s["c2o"]), _v(s["outp"]), s["outs"], _v(s["outs_c"]),
          s["outo"], _v(s["outo_c"])) for s in specs],
        _PAIR_SCHEMA,
    )
    e1 = edges1.select(
        F.col("subj").alias("_s1"), F.col("pred").alias("_p1"),
        F.col("obj").alias("_o1"),
    )
    e2 = edges2.select(
        F.col("subj").alias("_s2"), F.col("pred").alias("_p2"),
        F.col("obj").alias("_o2"),
    )
    left = e1.join(rt, e1["_p1"] == rt["pa"]).filter(
        (F.col("c1s").isNull() | (F.col("_s1") == F.col("c1s")))
        & (F.col("c1o").isNull() | (F.col("_o1") == F.col("c1o")))
    )
    key1 = F.col("_s1") if j1 == "subj" else F.col("_o1")
    key2 = F.col("_s2") if j2 == "subj" else F.col("_o2")
    out = left.join(
        e2, (F.col("pb") == F.col("_p2")) & (key1 == key2)
    ).filter(
        (F.col("c2s").isNull() | (F.col("_s2") == F.col("c2s")))
        & (F.col("c2o").isNull() | (F.col("_o2") == F.col("c2o")))
    )
    return out.select(
        _out_col("outs", "outs_c", F.col("_s1"), F.col("_o1"),
                 F.col("_s2"), F.col("_o2")).alias("subj"),
        F.col("outp").alias("pred"),
        _out_col("outo", "outo_c", F.col("_s1"), F.col("_o1"),
                 F.col("_s2"), F.col("_o2")).alias("obj"),
    )


def fire_fused(
    groups: FusedGroups,
    full: DataFrame,
    delta: DataFrame | None = None,
    delta_preds: set | None = None,
    present_preds: set | None = None,
) -> list[DataFrame]:
    """One round of the fused groups. ``delta=None`` => classic pass; else
    one branch per delta position (single: 1; pair: 2). Two rule-table
    prunes: extent restriction (O2 — every condition predicate must have
    facts at all) and the semi-naive predicate index (the delta-bound
    condition's predicate must occur in the delta)."""

    def keep(specs, extent_keys, delta_key=None):
        out = specs
        if present_preds is not None:
            out = [s for s in out if all(s[k] in present_preds for k in extent_keys)]
        if delta_key is not None and delta_preds is not None:
            out = [s for s in out if s[delta_key] in delta_preds]
        return out

    # Pairs fire per (j1, j2) shape. Packing all four shapes into one join
    # measured slower (it carries 2x rows through a wider key), and the
    # shape count is bounded at 4, so plan size stays constant in the RULE
    # count either way: the rules table, not shape packing, is what keeps
    # thousand-rule sets cheap (A/B in BASELINE.md).
    outs = []
    if delta is None:
        outs.append(fire_single(full, keep(groups.single, ["pa"])))
        for shape, specs in groups.pairs.items():
            outs.append(
                fire_pairs(full, full, shape, keep(specs, ["pa", "pb"]))
            )
    else:
        outs.append(fire_single(delta, keep(groups.single, ["pa"], "pa")))
        for shape, specs in groups.pairs.items():
            outs.append(fire_pairs(
                delta, full, shape, keep(specs, ["pa", "pb"], "pa")
            ))
            outs.append(fire_pairs(
                full, delta, shape, keep(specs, ["pa", "pb"], "pb")
            ))
    return [o for o in outs if o is not None]


# ---------------------------------------------------------------------------
# Fused contradiction sweep: rule_id + bindings instead of deduced triples.
# Same shapes, but the projection rebuilds each rule's variable-name ->
# value map (names ride in the rules table; constants and the duplicate
# occurrence of the shared variable carry NULL names so map keys stay
# unique).
# ---------------------------------------------------------------------------

_CON_SINGLE_SCHEMA = (
    "rule_id string, pa string, c1s string, c1o string, "
    "n1s string, n1o string"
)
_CON_PAIR_SCHEMA = (
    "rule_id string, pa string, pb string, c1s string, c1o string, "
    "c2s string, c2o string, n1s string, n1o string, n2s string, n2o string"
)


def fuse_contradiction_rules(rules: list[Rule]) -> FusedGroups:
    """1- and 2-condition constant-predicate contradiction rules fuse;
    everything else (3-condition patterns, guards, NAF) keeps the per-rule
    path."""
    single: list[dict] = []
    pairs: dict[tuple[str, str], list[dict]] = {}
    leftover: list[Rule] = []
    for r in rules:
        if not r.is_contradiction or r.negated or r.unequals:
            leftover.append(r)
            continue
        conds = r.conditions
        if any(is_var(c.pred) for c in conds) or any(
            is_var(c.subj) and c.subj == c.obj for c in conds
        ):
            leftover.append(r)
            continue
        if len(conds) == 1:
            c1 = conds[0]
            single.append({
                "rule_id": r.rule_id, "pa": c1.pred,
                "c1s": None if is_var(c1.subj) else c1.subj,
                "c1o": None if is_var(c1.obj) else c1.obj,
                "n1s": c1.subj[1:] if is_var(c1.subj) else None,
                "n1o": c1.obj[1:] if is_var(c1.obj) else None,
            })
        elif len(conds) == 2:
            c1, c2 = conds
            v1 = {t for t in (c1.subj, c1.obj) if is_var(t)}
            v2 = {t for t in (c2.subj, c2.obj) if is_var(t)}
            shared = v1 & v2
            if len(shared) != 1:
                leftover.append(r)
                continue
            sv = next(iter(shared))
            j1 = "subj" if c1.subj == sv else "obj"
            j2 = "subj" if c2.subj == sv else "obj"
            # NULL out c2's copy of the shared variable name (dup map key)
            n2s = c2.subj[1:] if is_var(c2.subj) and c2.subj != sv else None
            n2o = c2.obj[1:] if is_var(c2.obj) and c2.obj != sv else None
            pairs.setdefault((j1, j2), []).append({
                "rule_id": r.rule_id, "pa": c1.pred, "pb": c2.pred,
                "c1s": None if is_var(c1.subj) else c1.subj,
                "c1o": None if is_var(c1.obj) else c1.obj,
                "c2s": None if is_var(c2.subj) else c2.subj,
                "c2o": None if is_var(c2.obj) else c2.obj,
                "n1s": c1.subj[1:] if is_var(c1.subj) else None,
                "n1o": c1.obj[1:] if is_var(c1.obj) else None,
                "n2s": n2s, "n2o": n2o,
            })
        else:
            leftover.append(r)
    return FusedGroups(single=single, pairs=pairs, leftover=leftover)


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
    spark = edges.sparkSession

    def keep(specs, keys):
        if present_preds is None:
            return specs
        return [s for s in specs if all(s[k] in present_preds for k in keys)]

    outs = []
    sing = keep(groups.single, ["pa"])
    if sing:
        rt = _rules_table(
            edges,
            [(s["rule_id"], _v(s["pa"]), _v(s["c1s"]), _v(s["c1o"]),
              s["n1s"], s["n1o"]) for s in sing],
            _CON_SINGLE_SCHEMA,
        )
        e = edges.select(
            F.col("subj").alias("_s1"), F.col("pred").alias("_p1"),
            F.col("obj").alias("_o1"),
        )
        j = e.join(rt, e["_p1"] == rt["pa"]).filter(
            (F.col("c1s").isNull() | (F.col("_s1") == F.col("c1s")))
            & (F.col("c1o").isNull() | (F.col("_o1") == F.col("c1o")))
        )
        outs.append(j.select(
            "rule_id",
            _bindings_map([(F.col("n1s"), F.col("_s1")),
                           (F.col("n1o"), F.col("_o1"))]).alias("bindings"),
        ))
    for (j1, j2), specs in groups.pairs.items():
        sp = keep(specs, ["pa", "pb"])
        if not sp:
            continue
        rt = _rules_table(
            edges,
            [(s["rule_id"], _v(s["pa"]), _v(s["pb"]), _v(s["c1s"]),
              _v(s["c1o"]), _v(s["c2s"]), _v(s["c2o"]), s["n1s"], s["n1o"],
              s["n2s"], s["n2o"]) for s in sp],
            _CON_PAIR_SCHEMA,
        )
        e1 = edges.select(
            F.col("subj").alias("_s1"), F.col("pred").alias("_p1"),
            F.col("obj").alias("_o1"),
        )
        e2 = edges.select(
            F.col("subj").alias("_s2"), F.col("pred").alias("_p2"),
            F.col("obj").alias("_o2"),
        )
        left = e1.join(rt, e1["_p1"] == rt["pa"]).filter(
            (F.col("c1s").isNull() | (F.col("_s1") == F.col("c1s")))
            & (F.col("c1o").isNull() | (F.col("_o1") == F.col("c1o")))
        )
        key1 = F.col("_s1") if j1 == "subj" else F.col("_o1")
        key2 = F.col("_s2") if j2 == "subj" else F.col("_o2")
        out = left.join(
            e2, (F.col("pb") == F.col("_p2")) & (key1 == key2)
        ).filter(
            (F.col("c2s").isNull() | (F.col("_s2") == F.col("c2s")))
            & (F.col("c2o").isNull() | (F.col("_o2") == F.col("c2o")))
        )
        outs.append(out.select(
            "rule_id",
            _bindings_map([
                (F.col("n1s"), F.col("_s1")), (F.col("n1o"), F.col("_o1")),
                (F.col("n2s"), F.col("_s2")), (F.col("n2o"), F.col("_o2")),
            ]).alias("bindings"),
        ))
    return outs
