"""Stratified fixpoint driver (SURVEY.md §2.4 R1/R8/R9, §4 O5/O6).

A bounded positive ruleset saturates in one task:
:func:`zelph_spark.reasoning.kernel.saturate` through
:func:`zelph_spark.single_task.run_single_task`, over the distinct edges,
the rule constants (so a constant no fact mentions still gets a code) and
the known-wrong facts. The same task then sweeps the saturated facts for
contradictions (:func:`zelph_spark.reasoning.kernel.sweep`), and its rows
come back tagged: tag 0 is a deduced fact, tag k a contradiction of the
k-th check. The saturated set is ``base ∪ deduced``. The first
``fixpoint_log`` entry records the choice (stratum ``kernel``).

On any decline the semi-naive loop below runs instead: a ruleset outside
the kernel's fragment (NAF, ``unequals``, fresh variables), mismatched id
types, null ids, inputs over ``single_task.LOCAL_ROWS``, or a kernel
overflow past ``kernel.ROW_CAP``. It is the only path at 100 TB. Catalyst
has no fixpoint operator, so the loop lives in the Python driver — the
distributed analog of ``Reasoning::run`` (``reasoning.cpp:57-211``) and
``run_fixpoint_seminaive`` (``reasoning_seminaive.cpp:92-445``):

- iteration 1 is a classic pass over all positive rules; afterwards only the
  delta participates: for each rule and each positive condition position j,
  evaluate with condition j bound to the delta and the rest to the full
  extent — the relational form of the fact-creation-observer seeding
  (``zelph.hpp:185-194``), union over j, minus known facts;
- 1- and 2-condition constant-predicate rules evaluate through the
  shape-fused rules tables of :mod:`zelph_spark.reasoning.fused`; the rest
  get one plan branch each;
- rules are indexed by condition predicate (``reasoning_seminaive.cpp:100-207``):
  a (rule, position) pair is seeded only when its constant predicate occurs
  in the delta (variable-predicate conditions always seed — they are
  delta-safe here, unlike the reference's O7 fallback, because the
  relational evaluation has no nested-conjunction special case);
- chain-inheritance rules (:func:`split_inherit`) leave the per-round
  machinery: at positive quiescence each chain predicate s that some spec
  needs gets ONE :func:`zelph_spark.closure.closure_image` call, s+ ⨝ the
  union of those specs' p facts (the whole p slice for a spec whose s
  changed since its last injection, else the delta files that landed p
  facts since then); the images land as one delta that re-opens the
  positive stratum;
- NAF rules form stratum 2 (``reasoning.cpp:102-161``): they run only at
  positive quiescence, after the inheritance images; anything they deduce
  re-opens the positive stratum, and the alternation repeats until the NAF
  round is silent;
- every round lands its delta as parquet and reads ``full`` back as base
  plus the delta files — fixpoint lineage otherwise grows linearly and
  re-executes from scratch (§7 hard part 1).

Either way, contradictions never feed the saturation: they are evaluated
once against the saturated graph — the contradiction rules (consequence
``!``) together with rule firings that re-deduce a known-wrong fact — and
come back as (rule_id, bindings) rows, the distributed form of zelph's
counted ``contradiction_error`` records (``reasoning_deduce.cpp:131-133``).
The kernel sweeps inside the saturate task; the Spark sweep
(:func:`contradiction_sweep`) runs after the loop, for a contradiction
rule with NAF, when the known-wrong facts alone would break the task's
``LOCAL_ROWS`` budget or the kernel's sweep overflows ``kernel.ROW_CAP``
(either way the task's saturation stands), and on the pipeline's resume
path. The
``contra-plan`` log entry's ``sweep`` says which ran and why.

:func:`verify_fixpoint` ports the reference's semi-naive safety net
(``reasoning_seminaive.cpp:386-407``): one classic pass over the result must
deduce nothing new.
"""

from __future__ import annotations

import shutil
import tempfile
import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, Observation, functions as F, types as T

from ..closure import closure_image
from ..rules import Rule, is_var, resolve_rules, rule_constants
from ..session import literal
from ..single_task import run_single_task
from . import kernel
from .compiler import compile_rule_body, project_consequence
from .fused import (
    binding_keys, fire_contradictions_fused, fire_fused,
    fuse_contradiction_rules, fuse_rules,
)

EDGE_COLS = ["subj", "pred", "obj"]
# the saturate task's row tag: 0 a deduced fact, k >= 1 a row of check k
_TAG = "_tag"
_PARALLELISM_FIRST = "spark.sql.adaptive.coalescePartitions.parallelismFirst"


@dataclass
class FixpointResult:
    edges: DataFrame  # saturated distinct (subj, pred, obj)
    deduced: DataFrame  # deduced facts only (edges - input)
    contradictions: DataFrame  # (rule_id string, bindings map<string,string>)
    iterations: int
    n_deduced: int
    log: list[dict] = field(default_factory=list)


def _union_all(dfs: list[DataFrame]) -> DataFrame | None:
    dfs = [d for d in dfs if d is not None]
    if not dfs:
        return None
    return reduce(lambda a, b: a.unionByName(b), dfs)


def _rule_can_fire(rule, present_preds) -> bool:
    """Relation-extent restriction (SURVEY.md §4 O2): a rule with a positive
    condition on a constant predicate that has NO facts at all cannot fire —
    skip its whole plan branch. ``present_preds=None`` disables the check."""
    if present_preds is None:
        return True
    return all(
        is_var(rule.conditions[i].pred)
        or rule.conditions[i].pred in present_preds
        for i in rule.positive
    )


def _fire_positive(rules, edges, delta=None, delta_preds=None, present_preds=None):
    """Union of consequence projections for one round. ``delta=None`` =>
    classic full-extent pass; else semi-naive per-position seeding with the
    predicate index short-circuit."""
    outs = []
    for rule in rules:
        if not _rule_can_fire(rule, present_preds):
            continue
        if delta is None:
            outs.append(
                project_consequence(compile_rule_body(rule, edges), rule, edges)
            )
            continue
        for j in rule.positive:
            pat = rule.conditions[j]
            if (
                delta_preds is not None
                and not is_var(pat.pred)
                and pat.pred not in delta_preds
            ):
                continue  # rule-predicate index: this position can't match delta
            outs.append(
                project_consequence(
                    compile_rule_body(rule, edges, delta_at=j, delta=delta),
                    rule,
                    edges,
                )
            )
    return _union_all(outs)


def _distinct_preds(df: DataFrame) -> set:
    return {r.pred for r in df.select("pred").distinct().collect()}


@dataclass(frozen=True)
class InheritSpec:
    """A factored chain-inheritance rule (?K p ?P),(?X s ?K) => (?X p ?P)."""

    rule_id: str
    p: object  # inherited predicate (constant; string or long id)
    s: object  # chain predicate (constant; p != s)


def split_inherit(rules: list[Rule]):
    """Factor chain-inheritance rules out of a ruleset (r6, guide §1.2 "fix
    the distributed algorithm first").

    Shape: ``(?K p ?P), (?X s ?K) => (?X p ?P)`` with constant ``p != s``
    (e.g. wikidata.zph's has-part-inherits-through-subclass). The rule is
    LINEAR RECURSION through p over the (eventually static) s relation, so
    the semi-naive loop extends it ONE s-hop per round — on the 200k-doc
    corpus the saturated subclass graph has chain depth 53, which made this
    single rule ~45 of the 56 fixpoint rounds and ~3.1M of 4.2M derived
    facts. The factored evaluation computes the complete image in one shot:
    ``s+ ⨝ p-facts`` (s+ = transitive closure of the s slice, computed
    internally, never emitted as facts), injected at positive quiescence.
    Confluence of positive Datalog makes any such schedule reach the
    identical fixpoint; the injection only derives facts derivable by
    repeated application of the factored rule. Specs that share s share
    one closure: the loop makes one ``closure_image`` call per distinct s,
    whose facts carry each spec's p in their pred column.

    Guards: negation, inequality, contradiction, extra consequences and
    fresh variables disqualify; p == s is plain transitivity (left to the
    semi-naive loop, which already doubles path length per round), repeated
    variables inside a condition disqualify.
    Returns (rest, specs)."""
    rest: list = []
    specs: list[InheritSpec] = []
    for r in rules:
        if (
            r.negated or r.unequals or r.is_contradiction
            or r.extra_consequences or r.fresh_vars or len(r.conditions) != 2
        ):
            rest.append(r)
            continue
        matched = False
        for cp, cs in (r.conditions, r.conditions[::-1]):
            # cp = (?K p ?P), cs = (?X s ?K)
            if is_var(cp.pred) or is_var(cs.pred) or cp.pred == cs.pred:
                continue
            k, p_, v = cp.subj, cp.pred, cp.obj
            x, s_, k2 = cs.subj, cs.pred, cs.obj
            if not all(is_var(t) for t in (k, v, x, k2)):
                continue
            if k2 != k or len({k, v, x}) != 3:
                continue
            c = r.consequence
            if (c.subj, c.pred, c.obj) == (x, p_, v):
                specs.append(InheritSpec(r.rule_id, p_, s_))
                matched = True
                break
        if not matched:
            rest.append(r)
    return rest, specs


def _var_pred_guards(rules: list[Rule]):
    """For each rule with a variable in a PRED position, find a condition
    binding that variable with TWO constants (e.g. ``(?R ISA TRANSITIVE)``):
    the variable's domain is then the (tiny, driver-trackable) subject/object
    set of that constant slice, and the rule can fire only if
    domain ∩ present-preds is non-empty. The wikidata `transitive` meta-rule
    never fires on corpora with no transitive-declared predicate carrying
    facts, yet its 3 delta positions cost ~6 full-extent scans per round —
    this guard skips the whole rule from the driver (r6).

    Returns (guards, pairs): guards = {rule_id: [(cp, co, side), ...]},
    pairs = ordered list of distinct (cp, co, side) watched slices."""
    guards: dict[str, list] = {}
    pairs: list = []
    for r in rules:
        pred_vars = {c.pred for c in r.conditions if is_var(c.pred)}
        if not pred_vars:
            continue
        for v in pred_vars:
            for i in r.positive:
                c = r.conditions[i]
                if is_var(c.pred):
                    continue
                key = None
                if c.subj == v and not is_var(c.obj):
                    key = (c.pred, c.obj, "subj")
                elif c.obj == v and not is_var(c.subj):
                    key = (c.pred, c.subj, "obj")
                if key is not None:
                    guards.setdefault(r.rule_id, []).append(key)
                    if key not in pairs:
                        pairs.append(key)
                    break
    return guards, pairs


def deduced_wrong_contradictions(
    edges: DataFrame,
    rules: list[Rule],
    wrong_facts: DataFrame,
    present_preds: set | None = None,
) -> DataFrame:
    """Probability semantics inside reasoning (reasoning_deduce.cpp:244-292,
    verified against the compiled reference binary): condition matching
    IGNORES fact probabilities — a prob-0.1 fact fires rules exactly like a
    trusted one — but a rule firing whose consequence is a known-wrong fact
    (prob < 0.5, Answer::is_wrong, answer.cpp:73-76) raises a contradiction
    and the fact is NOT created or upgraded.

    Relational form: after saturation, for every rule whose consequence can
    instantiate to a known-wrong triple, join the consequence projection
    against ``wrong_facts`` and report (rule_id, bindings) rows alongside
    the explicit contradiction rules.  ``wrong_facts`` is tiny (explicit
    sub-0.5 assertions), so the whole sweep short-circuits to nothing when
    it is empty and broadcasts when it is not."""
    spark = edges.sparkSession
    wrong = wrong_facts.select(*EDGE_COLS).distinct()
    wrong_preds = {r.pred for r in wrong.select("pred").distinct().collect()}
    empty = literal(spark, [], "rule_id string, bindings map<string,string>")
    if not wrong_preds:
        return empty
    outs = []
    for rule in rules:
        # NAF rules are checked too: the reference's per-deduction wrong-fact
        # check (reasoning_deduce.cpp:289-292) runs for every firing
        # regardless of how the bindings were produced, and compile_rule_body
        # already lowers negated conditions to anti-joins (parity:
        # test_reference_oracle.py naf-deduced-wrong case)
        if not rule.consequences:
            continue
        if not _rule_can_fire(rule, present_preds):
            continue
        fresh = rule.fresh_vars
        cons = [
            c
            for c in rule.consequences
            # a consequence with a fresh variable names a minted node and
            # can never equal a pre-existing wrong fact
            if not any(t in fresh for t in (c.subj, c.pred, c.obj))
            and (is_var(c.pred) or c.pred in wrong_preds)
        ]
        if not cons:
            continue
        b = compile_rule_body(rule, edges)
        bcols = binding_keys(rule)
        for c in cons:
            def term(t):
                return F.col(t[1:]) if is_var(t) else F.lit(t)

            proj = b.select(
                term(c.subj).alias("subj"),
                term(c.pred).alias("pred"),
                term(c.obj).alias("obj"),
                *[F.col(cname).cast("string") for cname in bcols],
            )
            hits = (
                proj.join(F.broadcast(wrong), on=EDGE_COLS)
                .select(*bcols)
                .dropDuplicates()
            )
            kvs = []
            for cname in bcols:
                kvs += [F.lit(cname), F.col(cname)]
            outs.append(
                hits.select(
                    F.lit(f"{rule.rule_id}#deduced-wrong").alias("rule_id"),
                    (
                        F.create_map(*kvs) if kvs else F.create_map()
                    ).alias("bindings"),
                )
            )
    out = _union_all(outs)
    return empty if out is None else out


def run_fixpoint(
    edges: DataFrame,
    rules: list[Rule],
    contradiction_rules: list[Rule] | None = None,
    wrong_facts: DataFrame | None = None,
) -> FixpointResult:
    """Saturate ``edges`` (string or long ids — any equality-joinable type)
    under ``rules``; then sweep ``contradiction_rules`` and ``wrong_facts``
    once over the result (:func:`contradiction_sweep`).

    A fact set that fits one task saturates in the in-task kernel; any
    other runs the semi-naive loop (module docstring). Transitivity
    rules need no special path: the delta joins the full extent at the
    other condition position, so path length doubles per round and a chain
    of depth d quiesces in O(log d) rounds. Chain-inheritance rules are the
    one factored shape: the loop always applies them as closure images at
    positive quiescence (:func:`split_inherit`); the kernel runs them as
    ordinary rules.

    The loop evaluates 1- and 2-condition constant-predicate rules through
    the shape-fused rules tables (:mod:`.fused`) and every other rule
    through its own plan branch.

    ``wrong_facts``: triples asserted with prob < 0.5 ("known to be wrong",
    network.hpp:65-94). They participate in the input ``edges`` like any
    fact (reference-verified: unification ignores probabilities) but any
    rule firing that re-deduces one is reported as a contradiction instead
    of a deduction (reasoning_deduce.cpp:289-292)."""
    scratch = tempfile.mkdtemp(prefix="zelph_fixpoint_")
    spark = edges.sparkSession
    # Size-first AQE coalescing for the loop's lifetime: with the default
    # parallelism-first policy every post-shuffle stage keeps ~core-count
    # partitions even when a round's delta is a handful of rows, so each of
    # the ~40 rule branches schedules full-width stages — pure task-launch
    # overhead on tail rounds. Size-first collapses tiny shuffles to one
    # partition while leaving genuinely large rounds wide.
    loop_conf = {
        _PARALLELISM_FIRST: "false",
        # AQE stays ON (measured: disabling it raised a 100k fixpoint from
        # 63s to 85s at local[8] — the runtime partition coalescing is worth
        # more than the re-planning latency it costs)
        "spark.sql.adaptive.enabled": "true",
    }
    # conf.get(k, None) returns None for keys never EXPLICITLY set (it does
    # not fall back to the registered default), so restore must UNSET those
    # keys — the old `if v is not None: set(v)` silently left the loop's
    # size-first coalescing active for the rest of the session, starving
    # every later query's shuffles of parallelism (r6 root-cause of
    # dedup_minhash reading 92 s in-bench vs 15-22 s in a fresh session)
    old = {k: spark.conf.get(k, None) for k in loop_conf}
    for k, v in loop_conf.items():
        spark.conf.set(k, v)
    try:
        return _run_fixpoint_inner(
            edges, rules, contradiction_rules, scratch, wrong_facts
        )
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
        # every returned DataFrame is rooted at localCheckpointed RDDs
        # (full/base), never at the scratch parquet files
        shutil.rmtree(scratch, ignore_errors=True)


class _MaxParam(AccumulatorParam):
    """Keep the largest update. The kernel runs in one task, so a retried
    or recomputed attempt reports the same value instead of adding it a
    second time."""

    def zero(self, value):
        return 0

    def addInPlace(self, a, b):
        return max(a, b)


def _kernel_fixpoint(
    base: DataFrame,
    rules: list[Rule],
    contradiction_rules: list[Rule],
    wrong_facts: DataFrame | None,
):
    """Saturate ``base`` in one task and sweep the result in the same task
    (module docstring). Returns ``(deduced, (rounds, n_deduced,
    contradictions, sweep))``, where ``contradictions`` is None when the
    sweep must run in Spark and ``sweep`` says where it ran, or ``(None,
    reason)``. The known-wrong facts are an optional input: when they alone
    break the task's budget, the saturation still runs in the task and the
    whole sweep runs in Spark (``sweep`` = ``budget``)."""
    if not kernel.in_fragment(rules):
        return None, "fragment"
    spark = base.sparkSession
    id_t = base.schema["subj"].dataType
    py_t = (
        str if isinstance(id_t, T.StringType)
        else int if isinstance(id_t, T.IntegralType) else None
    )
    # a NAF contradiction rule keeps the whole sweep in Spark
    sweep = "naf" if any(r.negated for r in contradiction_rules) else "kernel"
    checks = []
    if sweep == "kernel":
        checks = [(r, binding_keys(r), None) for r in contradiction_rules]
        if wrong_facts is not None:
            checks += [
                (r, binding_keys(r), j)
                for r in rules for j in range(len(r.consequences))
            ]
    consts = sorted(rule_constants(rules + [c[0] for c in checks]))
    if py_t is None or any(type(c) is not py_t for c in consts):
        return None, "types"
    # sized: an unknown size would reach every plan over the saturated edges
    const_df = literal(spark, [(c,) for c in consts], T.StructType([T.StructField("c", id_t)]))
    inputs = [base, const_df]
    need_wrong = any(j is not None for _, _, j in checks)
    if need_wrong:
        inputs.append(wrong_facts.select(*EDGE_COLS))
    width = max([3] + [len(keys) for _, keys, _ in checks])
    columns = [_TAG, *EDGE_COLS] + [f"_b{j}" for j in range(3, width)]
    cap = kernel.ROW_CAP
    sc = spark.sparkContext
    rounds, n_new, swept_over = (
        sc.accumulator(0, _MaxParam()) for _ in range(3)
    )

    def run(codes, n):
        import numpy as np

        (s, p, o), (c,), *wrong = codes
        # codes follow id order, so the sorted distinct constant codes line
        # up with the sorted constants
        code = dict(zip(consts, np.unique(c).tolist()))
        facts, n_rounds = kernel.saturate(
            s, p, o, n, resolve_rules(rules, code), cap
        )
        ds, dp, do = facts.deduced()
        rounds.add(n_rounds)
        n_new.add(len(ds))
        found = [np.column_stack((ds, dp, do))]
        coded = [
            (r, keys, None if j is None else r.consequences[j])
            for r, (_, keys, j) in zip(
                resolve_rules([r for r, _, _ in checks], code), checks
            )
        ]
        # wrong facts left out of the task (budget): Spark sweeps
        if wrong or not need_wrong:
            try:
                found += kernel.sweep(
                    facts, coded, wrong[0] if wrong else None, cap
                )
            except OverflowError:
                swept_over.add(1)
        # tag k: row k-1 of checks (0: deduced); short rows pad with code 0
        tags = np.repeat(np.arange(len(found)), [len(v) for v in found])
        vals = np.vstack(
            [np.pad(v, ((0, 0), (0, width - v.shape[1]))) for v in found]
        )
        return [tags, *vals.T]

    out, sizes = run_single_task(
        inputs, run, columns, passthrough=(_TAG,), optional=int(need_wrong)
    )
    if out is None:
        return None, sizes
    deduced = out.where(F.col(_TAG) == 0).select(*EDGE_COLS)
    contradictions = None
    if len(sizes) < len(inputs):
        sweep = "budget"
    elif swept_over.value:
        sweep = "overflow"
    elif sweep == "kernel":
        tagged = literal(
            spark,
            [(k, r.rule_id if j is None else f"{r.rule_id}#deduced-wrong",
              keys)
             for k, (r, keys, j) in enumerate(checks, 1)],
            f"{_TAG} long, rule_id string, keys array<string>",
        )
        values = F.array(*[F.col(c).cast("string") for c in columns[1:]])
        contradictions = out.join(F.broadcast(tagged), _TAG).select(
            "rule_id",
            F.map_from_arrays(
                "keys", F.slice(values, 1, F.size("keys"))
            ).alias("bindings"),
        )
    return deduced, (rounds.value, n_new.value, contradictions, sweep)


def _run_fixpoint_inner(
    edges, rules, contradiction_rules, scratch, wrong_facts
) -> FixpointResult:
    spark = edges.sparkSession
    base = edges.select(*EDGE_COLS).dropDuplicates(EDGE_COLS).localCheckpoint()
    _t0 = time.time()
    deduced, info = _kernel_fixpoint(
        base, rules, contradiction_rules or [], wrong_facts
    )
    if deduced is not None:
        rounds, n_new, contradictions, sweep = info
        log = [{"iter": rounds, "stratum": "kernel", "new": n_new,
                "sec": round(time.time() - _t0, 2)}]
        full = base.unionByName(deduced)
        present = None
        if contradictions is None:
            # the Spark sweep's predicate set in one scan without a shuffle
            obs = Observation()
            full.observe(obs, F.collect_set("pred").alias("preds")).write.format(
                "noop"
            ).mode("overwrite").save()
            present = set(obs.get["preds"])
        return _finish(
            full, deduced, present, rules, contradiction_rules, wrong_facts,
            rounds, n_new, log, contradictions, sweep,
        )
    log = [{"stratum": "kernel", "declined": info}]
    positive = [r for r in rules if not r.negated]
    naf_rules = [r for r in rules if r.negated]
    # chain-inheritance rules leave the per-round machinery and land as
    # complete closure images at positive quiescence (split_inherit)
    positive, inherit_specs = split_inherit(positive)
    groups = fuse_rules(positive)
    per_rule = groups.leftover
    # [r6] variable-predicate domain guards (_var_pred_guards docstring):
    # domains ride the delta-write Observation, so keeping them current
    # costs zero extra jobs after the one base aggregate below.
    guard_map, guard_pairs = _var_pred_guards(per_rule + naf_rules)
    guard_doms: dict = {k: set() for k in guard_pairs}

    def _guard_metrics():
        out = []
        for i, (cp, co, side) in enumerate(guard_pairs):
            other = "obj" if side == "subj" else "subj"
            out.append(
                F.collect_set(
                    F.when(
                        (F.col("pred") == F.lit(cp))
                        & (F.col(other) == F.lit(co)),
                        F.col(side),
                    )
                ).alias(f"_guard{i}")
            )
        return out

    def _guard_update(row):
        for i, key in enumerate(guard_pairs):
            guard_doms[key].update(row[f"_guard{i}"])

    def _guard_ok(rule):
        """Conservative var-pred domain check: skip a rule only when some
        pred-variable's (driver-tracked) domain shares nothing with the
        predicates that have facts — it provably cannot fire."""
        for key in guard_map.get(rule.rule_id, ()):
            if not (guard_doms[key] & present):
                return False
        return True

    def fire_all(full, delta=None, delta_preds=None, present=None):
        outs = []
        pr = _fire_positive([r for r in per_rule if _guard_ok(r)],
                            full, delta, delta_preds,
                            present_preds=present)
        if pr is not None:
            outs.append(pr)
        outs.extend(fire_fused(groups, full, delta, delta_preds, present))
        return _union_all(outs)

    # `full` is never materialized per round: it is base (one localCheckpoint
    # at entry) unioned with a multi-path parquet scan over the delta files
    # already on disk. Every round then costs exactly TWO driver actions —
    # the delta parquet write (the real work) and a tiny pred-count scan of
    # the just-written files — instead of the previous three (the
    # localCheckpoint of the ever-growing `full` re-copied the whole fact set
    # every round: O(rounds x facts) serial materialization, the dominant
    # term in the 0.26-0.53 scaling-efficiency floor flagged in round 1).
    delta_paths: list[str] = []
    compactions = 0

    def full_df():
        if not delta_paths:
            return base
        return base.unionByName(spark.read.parquet(*delta_paths))

    def maybe_compact():
        """Bound the delta-file count: every rule-position branch re-scans
        `full` each round, so task count per round is
        O(branches x (base partitions + delta files)) — growing linearly
        with round number and dominated by near-empty tasks on long tails
        (measured: 46 s rounds with <200-row deltas at local[32]). Rewriting
        the accumulated deltas into one compacted file set every ~10 rounds
        costs one extra job amortized over 10 and keeps per-round planning
        and task counts flat — the same reason any LSM/Iceberg table
        compacts small files."""
        nonlocal compactions
        if len(delta_paths) < 10:
            return
        compactions += 1
        path = f"{scratch}/compact_{compactions}"
        spark.read.parquet(*delta_paths).hint("rebalance").write.mode(
            "overwrite"
        ).parquet(path)
        delta_paths.clear()
        delta_paths.append(path)

    def materialize_new(cand, name):
        r"""Dedup candidates, anti-join against known facts, land as parquet;
        returns (delta_df, path, n_rows, pred_set) with exactly ONE job:
        row count and delta-predicate set ride the write job as Observation
        metrics instead of a second scan. The known-fact set is anti-joined
        as its parts, base then the accumulated deltas:
        (A \ (B u C)) == (A \ B) \ C.

        The parquet round-trip, not a localCheckpoint, also resets Catalyst
        size statistics: a checkpointed join carries the PRODUCT of its
        inputs' estimated sizes forward (verified on Spark 4.1), and since
        each delta feeds the next round's joins the estimate compounds until
        the driver stalls multiplying multi-million-digit BigIntegers. A scan
        of the written files carries real file statistics instead."""
        if cand is None:
            return None, None, 0, set()
        out = cand.dropDuplicates(EDGE_COLS).join(
            base, on=EDGE_COLS, how="left_anti"
        )
        if delta_paths:
            out = out.join(
                spark.read.parquet(*delta_paths), on=EDGE_COLS, how="left_anti"
            )
        obs = Observation()
        out = out.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.collect_set("pred").alias("preds"),
            *_guard_metrics(),
        )
        path = f"{scratch}/{name}"
        # REBALANCE: let AQE size the output files — without it the anti-join
        # writes one near-empty file per task, and every later round re-opens
        # rounds x partitions tiny files per rule branch when scanning `full`
        out.hint("rebalance").write.mode("overwrite").parquet(path)
        m = obs.get
        _guard_update(m)
        return spark.read.parquet(path), path, m["n"], set(m["preds"])

    full = base
    iterations = 0
    total_new = 0
    present = _distinct_preds(base)  # O2 extent restriction, kept current
    # Inheritance-injection bookkeeping: a spec re-injects in FULL when its
    # s slice changed, or incrementally over the delta files that landed
    # new p facts since its last injection. Its own injection delta
    # (inherit_own) is the one delta it skips.
    inherit_full_needed = {sp: True for sp in inherit_specs}
    inherit_pending: dict = {sp: [] for sp in inherit_specs}
    inherit_own: dict = {}
    if guard_pairs:
        _guard_update(base.agg(*_guard_metrics()).collect()[0])

    # classic first pass (reasoning_seminaive.cpp:236-242)
    _t0 = time.time()
    delta, dpath, n_delta, delta_preds = materialize_new(
        fire_all(full, present=present), "delta_0"
    )
    plan_sec = None
    while True:
        iterations += 1
        entry = {"iter": iterations, "stratum": "positive", "new": n_delta,
                 "sec": round(time.time() - _t0, 2)}
        if plan_sec is not None:
            entry["plan_sec"] = plan_sec
            plan_sec = None
        log.append(entry)
        _t0 = time.time()
        if n_delta == 0:
            # positive quiescence -> pending chain-inheritance images first
            # (split_inherit), one closure_image per chain predicate s. A
            # non-empty injection re-opens the positive stratum.
            todo = [
                sp for sp in inherit_specs
                if (inherit_full_needed[sp] or inherit_pending[sp])
                and sp.p in present and sp.s in present
            ]
            if todo:
                _ti = time.time()
                facts_by_s: dict = {}
                specs = []
                for sp in todo:
                    # the whole p slice when s changed, else only the p
                    # facts landed since this spec's last injection
                    if inherit_full_needed[sp]:
                        src, kind = full, "full"
                    else:
                        src, kind = spark.read.parquet(*inherit_pending[sp]), "incr"
                    facts_by_s.setdefault(sp.s, []).append(
                        src.filter(F.col("pred") == F.lit(sp.p))
                    )
                    specs.append(f"{sp.rule_id}:{kind}")
                    inherit_full_needed[sp] = False
                    inherit_pending[sp] = []
                # the loop's size-first AQE coalescing starves the closure's
                # multi-million-row self-joins of parallelism (measured
                # 59.7 s vs 21.2 s standalone on the same 87k-edge slice)
                spark.conf.set(_PARALLELISM_FIRST, "true")
                try:
                    cands = [
                        closure_image(
                            full.filter(F.col("pred") == F.lit(s))
                            .select("subj", "obj"),
                            _union_all(facts),
                        )
                        for s, facts in facts_by_s.items()
                    ]
                finally:
                    spark.conf.set(_PARALLELISM_FIRST, "false")
                clo_sec = time.time() - _ti
                inh_new, ipath, n_inh, inh_preds = materialize_new(
                    _union_all(cands), f"inherit_{iterations}"
                )
                # an injection's output is inherit-closed for its OWN spec,
                # so the spec skips exactly this delta — unless another spec
                # with the same p was co-injected: each needs the other's new
                # p facts, so shared-p specs ping-pong through pending
                for sp in todo:
                    if [t.p for t in todo].count(sp.p) == 1:
                        inherit_own[sp] = ipath
                # "inject_sec", not "sec": bench.py sums "sec" over iter
                # entries, and the next positive entry's timer holds this
                log.append(
                    {"iter": iterations, "stratum": "inherit", "new": n_inh,
                     "inject_sec": round(time.time() - _ti, 2),
                     "clo_sec": round(clo_sec, 2), "specs": specs}
                )
                if n_inh:
                    delta, dpath, n_delta, delta_preds = inh_new, ipath, n_inh, inh_preds
                    continue
            # -> deferred NAF stratum (R9)
            if not naf_rules:
                break
            naf_new, npath, n_naf, naf_preds = materialize_new(
                _fire_positive([r for r in naf_rules if _guard_ok(r)],
                               full, present_preds=present),
                f"naf_{iterations}",
            )
            log.append({"iter": iterations, "stratum": "naf", "new": n_naf})
            if n_naf == 0:
                break
            # NAF deductions re-open the positive stratum. The union into
            # `full` / total_new happens ONCE at the loop top like any other
            # delta (a pre-union here double-counted and duplicated rows).
            delta, dpath, n_delta, delta_preds = naf_new, npath, n_naf, naf_preds
            continue
        total_new += n_delta
        delta_paths.append(dpath)
        maybe_compact()
        full = full_df()
        present |= delta_preds
        for sp in inherit_specs:
            if sp.p in delta_preds and inherit_own.get(sp) != dpath:
                inherit_pending[sp].append(dpath)
            if sp.s in delta_preds:
                inherit_full_needed[sp] = True
        _tp = time.time()
        # broadcast the delta side when it is small: every rule-position
        # branch then becomes a broadcast hash join and the full extent is
        # never shuffled — the dominant cost of a semi-naive round is
        # otherwise ~(rules x positions) shuffles of `full` per round.
        # (The hint survives bind_condition's filters/projections.)
        seed = F.broadcast(delta) if n_delta <= 2_000_000 else delta
        cand = fire_all(full, seed, delta_preds, present)
        # plan_sec: driver-side DataFrame/plan construction (Catalyst
        # analysis runs per transformation over py4j) — the part of a round
        # that does NOT shrink with more executors and does not grow with
        # data; the rest of the round's 'sec' is the one materialize job.
        # A round's numbers land on the NEXT iteration's log entry (the
        # round timer resets at append time).
        plan_sec = round(time.time() - _tp, 2)
        delta, dpath, n_delta, delta_preds = materialize_new(
            cand, f"delta_{iterations}"
        )

    # detach the result from the scratch dir (deleted by the caller): one
    # final materialization of the deltas instead of one per round; base is
    # already checkpointed and is not re-copied
    _t0 = time.time()
    if delta_paths:
        full = base.unionByName(
            spark.read.parquet(*delta_paths).localCheckpoint()
        )
    log.append({"stratum": "detach", "sec": round(time.time() - _t0, 2)})
    deduced = full.join(base, on=EDGE_COLS, how="left_anti")
    return _finish(
        full, deduced, present, rules, contradiction_rules, wrong_facts,
        iterations, total_new, log, None, "loop",
    )


def _finish(
    full, deduced, present, rules, contradiction_rules, wrong_facts,
    iterations, n_deduced, log, contradictions, sweep,
) -> FixpointResult:
    """Plan the Spark contradiction sweep over the saturated ``full``
    unless the kernel already swept it, and wrap the result. ``sweep``
    (``kernel``, or why the Spark sweep runs: ``naf``, ``budget``,
    ``overflow``, ``loop``) lands in the ``contra-plan`` log entry."""
    # the Spark sweep's plan construction is lazy but
    # deduced_wrong_contradictions runs one EAGER job (the wrong-predicate
    # collect) — timed so the e2e decomposition can see its driver share
    _t0 = time.time()
    if contradictions is None:
        contradictions = contradiction_sweep(
            full, rules, contradiction_rules or [], wrong_facts, present
        )
    log.append({"stratum": "contra-plan", "sweep": sweep,
                "sec": round(time.time() - _t0, 2)})
    return FixpointResult(
        edges=full,
        deduced=deduced,
        contradictions=contradictions,
        iterations=iterations,
        n_deduced=n_deduced,
        log=log,
    )


def contradiction_sweep(
    edges: DataFrame,
    rules: list[Rule],
    contradiction_rules: list[Rule],
    wrong_facts: DataFrame | None = None,
    present_preds: set | None = None,
) -> DataFrame:
    """Every contradiction of a saturated graph: the ``contradiction_rules``
    matches (:func:`evaluate_contradictions`) plus, given ``wrong_facts``,
    each ``rules`` firing that re-deduces a known-wrong fact
    (:func:`deduced_wrong_contradictions`)."""
    out = evaluate_contradictions(
        edges, contradiction_rules, present_preds=present_preds
    )
    if wrong_facts is None:
        return out
    return out.unionByName(
        deduced_wrong_contradictions(
            edges, rules, wrong_facts, present_preds=present_preds
        )
    )


def evaluate_contradictions(
    edges: DataFrame,
    rules: list[Rule],
    present_preds: set | None = None,
) -> DataFrame:
    """Contradiction rules -> (rule_id, bindings map) rows
    (``reasoning.cpp:249-272`` reporting; rows instead of counters).
    1-/2-condition constant-predicate rules go through the fused matcher
    (one plan pair per shape regardless of rule count — required for S5
    constraint-generated rulesets, :func:`.fused.fire_contradictions_fused`);
    the rest go per-rule."""
    spark = edges.sparkSession
    groups = fuse_contradiction_rules(rules)
    outs = fire_contradictions_fused(edges, groups, present_preds)
    for rule in groups.leftover:
        if not _rule_can_fire(rule, present_preds):
            continue
        b = compile_rule_body(rule, edges)
        kvs = []
        for c in binding_keys(rule):
            kvs += [F.lit(c), F.col(c).cast("string")]
        outs.append(
            b.select(
                F.lit(rule.rule_id).alias("rule_id"),
                F.create_map(*kvs).alias("bindings") if kvs else F.create_map().alias("bindings"),
            )
        )
    out = _union_all(outs)
    return literal(spark, [], "rule_id string, bindings map<string,string>") if out is None else out


def verify_fixpoint(result: FixpointResult, rules: list[Rule]) -> bool:
    """Differential safety net (reasoning_seminaive.cpp:386-407): a classic
    full pass over the saturated graph must produce zero new facts."""
    positive = [r for r in rules if not r.negated]
    naf_rules = [r for r in rules if r.negated]
    cand = _fire_positive(positive + naf_rules, result.edges)
    if cand is None:
        return True
    leftover = cand.dropDuplicates(EDGE_COLS).join(
        result.edges, on=EDGE_COLS, how="left_anti"
    )
    return leftover.isEmpty()
