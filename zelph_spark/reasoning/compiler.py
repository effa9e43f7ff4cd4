"""Rule -> join-chain compiler (the unification engine, relationally).

zelph unifies rule conditions one at a time against per-predicate fact
extents with binding propagation (``src/lib/network/unification.cpp``,
1110 LoC of anchor strategies J1-J10 in SURVEY.md §2.3). The relational
lowering: every condition is a filtered projection of the edge DataFrame
with variables as column names, and binding propagation is a natural join
on shared variables. The reference's strategies map to Catalyst choices:

- J1 relation-extent scan  -> ``edges.filter(pred == P)`` (+bucket pruning)
- J2/J3 bound-side anchors -> equi-join; Catalyst/AQE picks build side
- J5 bound-pattern ground  -> constant filters on all three positions
- J6 variable predicate    -> no pred filter; the variable joins/projects
- J8 binding consistency   -> join keys; repeated vars -> intra-row filter
- J9 NAF existence         -> left_anti join (reasoning_evaluate.cpp:321)
- J10 inequality guards    -> where(a != b) once both sides are bound

Condition ordering mirrors zelph's greedy optimizer (``reasoning.cpp:279-468``
R10): most-constant-bound condition first, then greedily the condition
sharing the most variables with what is already bound (selective first,
cross joins avoided), NAF strictly last. We keep the explicit order rather
than leaving join order to Catalyst — deterministic plans, and the first
condition of meta-rules (e.g. transitive-relation membership) is the tiny
side AQE turns into a broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..rules import Pattern, Rule, is_var

_POSITIONS = ("subj", "pred", "obj")


def _vcol(term: str) -> str:
    """Variable term -> output column name ('?X' -> 'X')."""
    return term[1:]


def _pattern_var_cols(pat: Pattern) -> set[str]:
    """Output column names of ``bind_condition(_, pat)`` — computed in
    Python so plan construction never has to ask Spark. Every ``.columns``
    on a freshly built DataFrame runs the Catalyst analyzer over its whole
    subtree (which, mid-fixpoint, includes the round's multi-file delta
    union); at one call per condition per rule-position per round that was
    the single largest driver-side cost of a fixpoint round (measured:
    ~30% of the loop at sf0.1 before this and the callers' bookkeeping)."""
    return {_vcol(t) for t in pat.variables}


def bind_condition(edges: DataFrame, pat: Pattern) -> DataFrame:
    """One condition -> DataFrame of its variable bindings.

    Constants become pushed-down filters (J5/O2); repeated variables become
    intra-row equality (J8, e.g. ``(X R X)`` -> subj == obj)."""
    c = edges
    first: dict[str, str] = {}
    for col in _POSITIONS:
        term = getattr(pat, col)
        if is_var(term):
            if term in first:
                c = c.filter(F.col(col) == F.col(first[term]))
            else:
                first[term] = col
        else:
            c = c.filter(F.col(col) == F.lit(term))
    return c.select(*[F.col(col).alias(_vcol(t)) for t, col in first.items()])


def _n_constants(pat: Pattern) -> int:
    return sum(0 if is_var(getattr(pat, c)) else 1 for c in _POSITIONS)


def order_conditions(rule: Rule, first: int | None = None) -> list[int]:
    """Greedy selective-first ordering of the positive conditions
    (reasoning.cpp:279-468): seed with the most-constant condition
    (variable-predicate conditions penalized — they scan every extent,
    unification.cpp:433-444), then prefer maximal variable overlap with the
    bound set, then more constants. ``first`` pins the seed condition
    instead (the in-task evaluator starts from the delta position)."""

    def base_score(i: int) -> tuple:
        pat = rule.conditions[i]
        return (_n_constants(pat), not is_var(pat.pred), -i)

    remaining = list(rule.positive)
    if not remaining:
        return []
    ordered = [max(remaining, key=base_score) if first is None else first]
    remaining.remove(ordered[0])
    bound = set(rule.conditions[ordered[0]].variables)
    while remaining:
        nxt = max(
            remaining,
            key=lambda i: (
                len(rule.conditions[i].variables & bound),
                _n_constants(rule.conditions[i]),
                not is_var(rule.conditions[i].pred),
                -i,
            ),
        )
        ordered.append(nxt)
        remaining.remove(nxt)
        bound |= rule.conditions[nxt].variables
    return ordered


def compile_rule_body(
    rule: Rule,
    edges: DataFrame,
    delta_at: int | None = None,
    delta: DataFrame | None = None,
) -> DataFrame:
    """Evaluate a rule body -> DataFrame of variable bindings.

    ``delta_at``/``delta``: semi-naive seeding (J4, unification.cpp:399-457):
    condition ``delta_at`` reads the delta DataFrame, every other positive
    condition reads the full extent. NAF conditions always read the full
    extent and run last (stratification is the driver's job, R9)."""
    order = order_conditions(rule)
    acc: DataFrame | None = None
    acc_vars: set[str] = set()
    for idx in order:
        src = delta if (delta_at is not None and idx == delta_at) else edges
        cdf = bind_condition(src, rule.conditions[idx])
        cvars = _pattern_var_cols(rule.conditions[idx])
        if acc is None:
            acc = cdf
        else:
            shared = sorted(acc_vars & cvars)
            acc = acc.join(cdf, on=shared) if shared else acc.crossJoin(cdf)
        acc_vars |= cvars
    if acc is None:
        raise ValueError(f"rule {rule.rule_id} has no positive conditions")
    # inequality guards after both sides are bound (J10)
    for a, b in rule.unequals:
        acc = acc.where(F.col(_vcol(a)) != F.col(_vcol(b)))
    # NAF: anti-join on the shared variables (J9); with no shared variables
    # the condition vetoes every binding iff it has any match at all
    # (SPARQL MINUS no-shared-vars differs — sparql.zph:507-511; NAF here
    # follows reasoning_evaluate.cpp:321).
    for nidx in rule.negated:
        ndf = bind_condition(edges, rule.conditions[nidx])
        shared = sorted(acc_vars & _pattern_var_cols(rule.conditions[nidx]))
        if shared:
            acc = acc.join(ndf, on=shared, how="left_anti")
        else:
            probe = ndf.limit(1).withColumn("_naf", F.lit(1)).select("_naf")
            acc = (
                acc.withColumn("_naf", F.lit(1))
                .join(probe, on="_naf", how="left_anti")
                .drop("_naf")
            )
    return acc


def project_consequence(
    bindings: DataFrame, rule: Rule, edges: DataFrame | None = None
) -> DataFrame:
    """Bindings -> deduced (subj, pred, obj) rows (reasoning_deduce.cpp:35-343).

    Fresh consequence variables (R6, reasoning_deduce.cpp:48-130): each
    firing mints a new node, shared across all consequences of the rule.
    Distributed translation of ``_pImpl->create()``: a DETERMINISTIC id
    hashed from (rule_id, var, full binding) — idempotent under task retry
    and across fixpoint rounds, so re-derivations dedup in the delta
    anti-join instead of minting runaway nodes. The reference's termination
    guard (``consequences_already_exist``, wildcard match with binding
    consistency across shared fresh variables) becomes an anti-join of the
    bindings against the conjunctive match of the consequence patterns over
    the current extent — which is exactly a rule-body evaluation, so the
    condition compiler is reused verbatim. Requires ``edges``.
    """
    cons_list = rule.consequences
    if not cons_list:
        raise ValueError(f"rule {rule.rule_id} is a contradiction rule")
    fresh = rule.fresh_vars
    if fresh:
        if edges is None:
            raise ValueError(
                f"rule {rule.rule_id} has fresh variables {set(fresh)}; "
                "project_consequence needs the edge extent for the "
                "termination guard"
            )
        # The reference's sequential guard (consequences_already_exist,
        # reasoning_deduce.cpp:48-130) keys on the *consequence* instantiation
        # only: two firings that differ in a body variable not referenced by
        # any consequence still produce the same consequences, so they mint
        # ONE fresh node, not one per firing. Project the bindings onto the
        # consequence-referenced variables before guarding and minting.
        cons_vars = set()
        for c in cons_list:
            cons_vars |= {
                t for t in (c.subj, c.pred, c.obj) if is_var(t)
            }
        proj = sorted(_vcol(v) for v in cons_vars - set(fresh))
        if proj:
            bindings = bindings.select(*proj).dropDuplicates()
            bind_cols = proj
        else:
            # consequences are all-constant-plus-fresh: one firing total
            bindings = (
                bindings.select(F.lit(1).alias("_k")).dropDuplicates()
            )
            bind_cols = ["_k"]
        guard = Rule(f"{rule.rule_id}#exists", tuple(cons_list), None)
        satisfied = compile_rule_body(guard, edges)
        # guard columns = all consequence vars (incl. fresh), so the
        # intersection with bind_cols (= cons vars minus fresh) is proj
        shared = sorted(set(bind_cols) - {"_k"})
        if shared:
            bindings = bindings.join(
                satisfied.select(*shared).distinct(), on=shared, how="left_anti"
            )
        else:
            probe = (
                satisfied.limit(1).withColumn("_any", F.lit(1)).select("_any")
            )
            bindings = (
                bindings.withColumn("_any", F.lit(1))
                .join(probe, on="_any", how="left_anti")
                .drop("_any")
            )
        id_is_long = dict(edges.dtypes).get("subj") == "bigint"
        key_cols = sorted(bind_cols)
        for v in sorted(fresh):
            h = F.xxhash64(
                F.lit(rule.rule_id), F.lit(v),
                *[F.col(c) for c in key_cols],
            )
            # Minted ids live in a reserved range disjoint from imported
            # node ids: imported ids are non-negative (config.node_id clears
            # the sign bit), minted ids set it — mirroring the reference's
            # top-bit variable-id convention (network_types.hpp:44), so a
            # hash collision can never silently alias a fresh node onto a
            # real entity.
            minted = h.bitwiseOR(F.lit(-0x8000000000000000))
            bindings = bindings.withColumn(
                _vcol(v),
                minted if id_is_long else F.format_string("_f%016x", h),
            )

    def term(t: str):
        return F.col(_vcol(t)) if is_var(t) else F.lit(t)

    outs = [
        bindings.select(
            term(c.subj).alias("subj"),
            term(c.pred).alias("pred"),
            term(c.obj).alias("obj"),
        )
        for c in cons_list
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def evaluate_query(
    edges: DataFrame,
    conditions: list[Pattern],
    unequals: tuple = (),
    negated: tuple = (),
    select: list[str] | None = None,
) -> DataFrame:
    """Native query syntax (SURVEY.md §2.7): a statement with variables and
    no consequence evaluates immediately through the same machinery with a
    result collector — here, the bindings DataFrame itself."""
    q = Rule("query", tuple(conditions), None, tuple(unequals), tuple(negated))
    out = compile_rule_body(q, edges)
    if select:
        out = out.select(*[_vcol(v) if v.startswith("?") else v for v in select])
    return out
