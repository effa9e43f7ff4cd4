"""In-task semi-naive evaluator for the positive stratum.

The distributed loop (``fixpoint.py``) pays one Spark job chain per round:
scheduling, one scan of ``full`` per rule branch, the anti-join and the
parquet landing. A fact set that fits one task saturates in milliseconds
of numpy work instead, so ``run_fixpoint`` hands it to
:func:`zelph_spark.single_task.run_single_task` and :func:`saturate` runs
the whole stratum there. It is the vectorized form of
``tests/datalog_oracle.py``'s semantics:

- facts are per-predicate sorted pair keys ``s*n+o`` over dense codes;
- a rule body is a chain of searchsorted merge-joins over a binding table
  (one int64 column per variable), in :func:`~.compiler.order_conditions`
  order;
- round 1 is a classic pass; every later round seeds each positive
  position j from the delta (j leads the join order) and reads every other
  position from the full extent;
- a variable-predicate condition expands over the predicate values already
  bound (e.g. by ``(?R ISA TRANSITIVE)``), or over every extent when none
  is;
- a round's new facts are its candidates minus the known facts, a sorted
  set difference.

Every rule body, deduction or contradiction, goes through one matcher,
:func:`_bindings` (``unequals`` is a binding filter there). After the
fixpoint, :func:`sweep` runs the contradiction sweep in the same task over
the saturated facts: each contradiction rule's matches, and each
deduction consequence fired once and tested against the known-wrong facts
(the ``#deduced-wrong`` check). Its overflow leaves the saturation
standing; ``run_fixpoint`` then sweeps in Spark.

The fragment is :func:`in_fragment`: no NAF, no ``unequals``, no fresh
variables; extra consequences and variable predicates are fine, which
covers all 22 wikidata.zph deduction rules.
"""

from __future__ import annotations

import numpy as np

from ..rules import Rule, is_var
from .compiler import order_conditions

_OVERFLOW = "fixpoint overflow"
# rows of known facts, of one binding table, or of one round's candidates.
# saturate() holds about 45 bytes per row of its largest intermediate
# (transitive P279 chains under the wikidata rules, 4-core x86 host: 0.97 GB
# at 21M candidate rows, 3.1 GB at 69M). At 2^24 rows a 500-node chain
# saturates in 3.2 s at 0.69 GB peak and a 560-node one declines in 2.9 s at
# 0.86 GB; the 200k-doc corpus (4.4M facts, largest table 1.3M rows) peaks
# at 0.36 GB.
ROW_CAP = 1 << 24


def in_fragment(rules: list[Rule]) -> bool:
    """True when :func:`saturate` evaluates ``rules`` exactly."""
    return all(
        r.consequences and not r.negated and not r.unequals
        and not r.fresh_vars
        for r in rules
    )


def _groups(values):
    """(value, row indices) per distinct value of an int array."""
    order = np.argsort(values, kind="stable")
    uniq, start = np.unique(values[order], return_index=True)
    return zip(uniq.tolist(), np.split(order, start[1:]))


def _member(keys, q):
    """Boolean mask: which of ``q`` occur in the sorted array ``keys``."""
    if len(keys) == 0:
        return np.zeros(len(q), dtype=bool)
    pos = np.minimum(np.searchsorted(keys, q), len(keys) - 1)
    return keys[pos] == q


def _swap(keys, n):
    """Sorted object-major keys ``o*n+s`` of subject-major keys."""
    return np.sort((keys % n) * n + keys // n)


class _Facts:
    """Per-predicate sorted pair keys ``s*n+o``; the object-major keys
    ``o*n+s`` (for object-bound lookups) are built on first use and then
    kept merged as facts arrive."""

    def __init__(self, n: int):
        self.n = n
        self.key: dict[int, np.ndarray] = {}
        self.base: dict[int, np.ndarray] = {}
        self._rev: dict[int, np.ndarray] = {}

    def add(self, p: int, keys):
        """Add sorted keys disjoint from the known ones. A stable sort of
        two sorted runs is a linear merge (timsort)."""
        old = self.key.get(p)
        self.key[p] = (
            keys if old is None
            else np.sort(np.concatenate((old, keys)), kind="stable")
        )
        if p in self._rev:
            self._rev[p] = np.sort(
                np.concatenate((self._rev[p], _swap(keys, self.n))),
                kind="stable",
            )

    @classmethod
    def of(cls, s, p, o, n: int) -> "_Facts":
        """The distinct facts of code arrays ``(s, p, o)``."""
        facts = cls(n)
        for pv, rows in _groups(p):
            facts.add(pv, np.unique(s[rows] * n + o[rows]))
        return facts

    def deduced(self):
        """``(s, p, o)`` code arrays of every key not in ``self.base``."""
        new = {
            pv: k[~_member(self.base[pv], k)] if pv in self.base else k
            for pv, k in self.key.items()
        }
        keys = np.concatenate(list(new.values()) + [np.empty(0, np.int64)])
        preds = np.repeat(
            np.fromiter(new, dtype=np.int64, count=len(new)),
            [len(k) for k in new.values()],
        )
        return keys // self.n, preds, keys % self.n

    def rev(self, p: int):
        if p not in self._rev:
            self._rev[p] = _swap(self.key[p], self.n)
        return self._rev[p]


def _expand(keys, v, n, cap):
    """Range lookup: for each query value v[i], every key with major part
    v[i]. Returns (query row per hit, minor part per hit)."""
    lo = np.searchsorted(keys, v * n)
    cnt = np.searchsorted(keys, v * n + n) - lo
    total = int(cnt.sum())
    if total > cap:
        raise OverflowError(_OVERFLOW)
    rows = np.repeat(np.arange(len(v)), cnt)
    idx = np.arange(total) + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
    return rows, keys[idx] % n


def _match(tab, m, s_t, o_t, facts, p, cap):
    """Join an m-row binding table with the facts of constant predicate p
    on the condition's subject/object terms (constant codes or variables).
    """
    n = facts.n
    keys = facts.key[p]

    def known(t):
        return np.full(m, t, dtype=np.int64) if not is_var(t) else tab.get(t)

    sv, ov = known(s_t), known(o_t)
    if sv is not None and ov is not None:  # both bound: membership
        keep = _member(keys, sv * n + ov)
        return int(keep.sum()), {v: a[keep] for v, a in tab.items()}
    if sv is not None:
        rows, vals = _expand(keys, sv, n, cap)
        free = {o_t: vals}
    elif ov is not None:
        rows, vals = _expand(facts.rev(p), ov, n, cap)
        free = {s_t: vals}
    else:  # nothing bound: every fact of p against every row
        ks, ko = keys // n, keys % n
        if s_t == o_t:  # (?X p ?X)
            ks = ko = ks[ks == ko]
        if m * len(ks) > cap:
            raise OverflowError(_OVERFLOW)
        rows = np.repeat(np.arange(m), len(ks))
        free = {s_t: np.tile(ks, m), o_t: np.tile(ko, m)}
    out = {v: a[rows] for v, a in tab.items()}
    out.update(free)
    return len(rows), out


def _condition(tab, m, pat, facts, cap):
    """Extend the binding table by one condition over ``facts``."""
    if not is_var(pat.pred):
        if pat.pred not in facts.key:
            return 0, tab
        return _match(tab, m, pat.subj, pat.obj, facts, pat.pred, cap)
    r = pat.pred
    parts = []
    if r in tab:  # expand over the predicate values already bound
        for p, rows in _groups(tab[r]):
            if p in facts.key:
                sub = {v: a[rows] for v, a in tab.items()}
                parts.append(
                    _match(sub, len(rows), pat.subj, pat.obj, facts, p, cap)
                )
    else:  # unbound: every extent, with ?R fixed to its predicate
        for p in facts.key:
            s_t = p if pat.subj == r else pat.subj
            o_t = p if pat.obj == r else pat.obj
            k, sub = _match(tab, m, s_t, o_t, facts, p, cap)
            sub[r] = np.full(k, p, dtype=np.int64)
            parts.append((k, sub))
    parts = [(k, t) for k, t in parts if k]
    if not parts:
        return 0, tab
    total = sum(k for k, _ in parts)
    if total > cap:
        raise OverflowError(_OVERFLOW)
    return total, {
        v: np.concatenate([t[v] for _, t in parts]) for v in parts[0][1]
    }


def _term(tab, m, t):
    """A rule term's value per binding row: its column, or the constant."""
    return tab[t] if is_var(t) else np.full(m, t, dtype=np.int64)


def _bindings(rule, facts, cap, order=None, delta=None, at=None):
    """The one body matcher: ``rule``'s positive conditions joined in
    ``order`` (default :func:`~.compiler.order_conditions`), position
    ``at`` over ``delta`` and the rest over ``facts``, then its
    ``unequals`` as a binding filter. Returns ``(rows, {var: values})``;
    the table is incomplete when rows is 0."""
    tab, m = {}, 1
    for i in order_conditions(rule) if order is None else order:
        m, tab = _condition(
            tab, m, rule.conditions[i], delta if i == at else facts, cap
        )
        if m == 0:
            return 0, tab
    for a, b in rule.unequals:
        keep = _term(tab, m, a) != _term(tab, m, b)
        m, tab = int(keep.sum()), {v: x[keep] for v, x in tab.items()}
    return m, tab


def _fire(rule, order, facts, delta, at, cands, cap):
    """Evaluate one rule body (position ``at`` over ``delta``, the rest
    over ``facts``), add its consequence keys to ``cands[pred]`` and return
    how many it added."""
    n = facts.n
    m, tab = _bindings(rule, facts, cap, order, delta, at)
    if m == 0:
        return 0
    for c in rule.consequences:
        key = _term(tab, m, c.subj) * n + _term(tab, m, c.obj)
        if is_var(c.pred):
            for p, rows in _groups(tab[c.pred]):
                cands.setdefault(p, []).append(key[rows])
        else:
            cands.setdefault(c.pred, []).append(key)
    return m * len(rule.consequences)


def saturate(s, p, o, n: int, rules: list[Rule], cap: int):
    """Positive fixpoint of the facts ``(s, p, o)`` (int64 code arrays,
    codes below ``n``) under ``rules``, whose constants are codes too.

    Returns ``(facts, rounds)``: the saturated :class:`_Facts` (its
    :meth:`~_Facts.deduced` are the new facts only) and the number of
    evaluation rounds (the last one deduces nothing). Raises
    ``OverflowError`` when pair keys would overflow int64, or when the
    known facts, any binding table or one round's candidates exceed
    ``cap`` rows."""
    if n * n >= 1 << 62:
        raise OverflowError(_OVERFLOW)
    facts = _Facts.of(s, p, o, n)
    facts.base = dict(facts.key)
    known = sum(len(k) for k in facts.base.values())
    if known > cap:
        raise OverflowError(_OVERFLOW)
    seeded = [
        (r, {j: order_conditions(r, first=j) for j in r.positive})
        for r in rules
    ]
    delta = None
    rounds = 0
    while True:
        rounds += 1
        cands: dict[int, list] = {}
        pending = 0
        for rule, orders in seeded:
            if delta is None:  # classic first pass
                fired = [(order_conditions(rule), None)]
            else:
                fired = [
                    (order, j) for j, order in orders.items()
                    if is_var(rule.conditions[j].pred)
                    or rule.conditions[j].pred in delta.key
                ]
            for order, j in fired:
                pending += _fire(rule, order, facts, delta, j, cands, cap)
                if pending > cap:
                    raise OverflowError(_OVERFLOW)
        delta = _Facts(n)
        for pv, parts in cands.items():
            k = np.unique(np.concatenate(parts))
            if pv in facts.key:
                k = k[~_member(facts.key[pv], k)]
            if len(k):
                delta.add(pv, k)
        if not delta.key:
            return facts, rounds
        known += sum(len(k) for k in delta.key.values())
        if known > cap:
            raise OverflowError(_OVERFLOW)
        for pv, k in delta.key.items():
            facts.add(pv, k)


def sweep(facts, checks, wrong, cap: int) -> list:
    """The contradiction sweep over saturated ``facts``, one binding table
    per entry of ``checks``, each a ``(rule, keys, consequence)`` triple:

    - ``consequence`` None: every match of the contradiction ``rule``;
    - else the ``#deduced-wrong`` check: each firing of the deduction
      ``rule`` whose ``consequence`` is one of the ``wrong`` facts
      (``(s, p, o)`` code arrays, or None), each distinct binding once.

    Returns, per check, an int64 array with one row per hit and one
    column per variable name in ``keys``. Raises ``OverflowError`` when a
    binding table, or all hits together, exceed ``cap`` rows."""
    n = facts.n
    wrong = _Facts(n) if wrong is None else _Facts.of(*wrong, n)
    out, total = [], 0
    for rule, keys, cons in checks:
        if cons is not None and not wrong.key:
            out.append(np.empty((0, len(keys)), dtype=np.int64))
            continue
        m, tab = _bindings(rule, facts, cap)
        if m and cons is not None:
            key = _term(tab, m, cons.subj) * n + _term(tab, m, cons.obj)
            hit = np.zeros(m, dtype=bool)
            for pv, rows in _groups(_term(tab, m, cons.pred)):
                if pv in wrong.key:
                    hit[rows] = _member(wrong.key[pv], key[rows])
            m, tab = int(hit.sum()), {v: x[hit] for v, x in tab.items()}
        vals = np.empty((m, len(keys)), dtype=np.int64)
        for j, k in enumerate(keys if m else ()):  # no rows: tab incomplete
            vals[:, j] = tab[f"?{k}"]
        if cons is not None:
            vals = np.unique(vals, axis=0)
        total += len(vals)
        if total > cap:
            raise OverflowError(_OVERFLOW)
        out.append(vals)
    return out
