"""Transitive closure + property paths (SURVEY.md §2.5 C1-C4, §2.6 Q12).

zelph has one traversal primitive: level-synchronous BFS over a cached
per-predicate index, seeded or not (``zelph.cpp:267-296``
transitive_targets/sources, ``zelph.cpp:49-80`` bfs_over_index, two-stage
index strategy ``zelph.cpp:44-47``). This module has one too,
:func:`_closure`, with two first deltas: the predicate slice ``base`` for
the '+' closure, or ``base ⋉ seeds`` for seeded targets and sources.
Inputs that fit one task run its numpy kernel through
:func:`zelph_spark.single_task.run_single_task`; past the runner's bounds
the Spark lowering is an iterative frontier self-join over the slice with
early dedup (SURVEY.md §7 hard-part 4):

    delta' = compose(delta, base) \\ reach

The first ``AUTO_SWITCH_ROUND`` rounds expand one hop (the BFS analog —
cheapest per round, and shallow taxonomies finish here); later unseeded
rounds join the delta against everything reached so far, so a deep chain
costs O(log diameter) further rounds instead of one per level.
:func:`compose` is the one path-composition join, shared with sparql's
sequence paths.

Every round localCheckpoints (lineage cut) and dedups *before* expanding —
hub fan-out otherwise explodes the frontier — and its row count rides that
checkpoint job. The per-predicate input should come from
:func:`zelph_spark.graph.edges_for_pred` so the scan is bucket-pruned; the
joins themselves shuffle on the frontier key and AQE splits skewed hubs.
"""

from __future__ import annotations

from functools import reduce
from itertools import count

from pyspark.sql import DataFrame, Observation, functions as F

from .single_task import run_single_task

PAIR = ["subj", "obj"]
TRIPLE = ["subj", "pred", "obj"]


AUTO_SWITCH_ROUND = 3

# [r6] Single-task closure fast path (guide §4.2 "hand whole batches to
# vectorized native libraries"): when the inputs fit one task, the whole
# loop collapses into one numpy kernel inside one mapInPandas task — ~9
# driver-scheduled rounds of 1-3M-row shuffles become one job. Past the
# runner's row budget, or if the kernel's pair cap overflows mid-computation
# (dense graphs whose closure explodes), the distributed loop runs
# unchanged, so 100TB-scale inputs keep the shuffle/spill plan.
LOCAL_PAIR_CAP = 67108864
_OVERFLOW = "closure overflow"
_OVERFLOW_IMG = "image overflow"


def _closure_kernel(src, dst, cap, seeds=None):
    """Positive transitive closure of an edge list over dense int node ids.

    With ``seeds`` (an int array of start nodes), computes the seeded
    forward closure instead: all (s, t) with s in seeds and a path s ->+ t
    — the recurrence is identical, only the initial delta is the seed-
    restricted slice of base (transitive_targets' first frontier).

    Semi-naive LINEAR expansion (delta x base per round) via numpy
    searchsorted merge-joins on pair keys s*n+o. In-kernel the per-round
    overhead that the distributed loop's doubling amortizes is gone, and
    linear generates each closure pair once per distinct last edge — the
    minimum any semi-naive schedule does — where doubling (delta x reach)
    measured ~15x redundant candidates on the saturated subclass graph
    (54M raw rows deduped for 385k new pairs, ~10 s of np.unique alone)
    and explodes quadratically on deep chains. Round count needs no
    doubling rescue: a graph of shortest-path depth D holds >= D^2/2
    closure pairs, so the pair cap itself bounds rounds at sqrt(2*cap)
    (~11.6k) rounds of per-round work that shrinks with delta.

    Raises OverflowError(_OVERFLOW) when any intermediate exceeds
    ``cap`` pairs so the caller can fall back to the shuffle plan.
    """
    import numpy as np

    if len(src) == 0:
        return src, dst
    n = int(max(src.max(), dst.max())) + 1
    if n * n >= (1 << 62):  # pair-key encoding would overflow int64
        raise OverflowError(_OVERFLOW)
    base = np.unique(src.astype(np.int64) * n + dst.astype(np.int64))
    # base sorted by key == sorted by subject: searchsorted-ready as-is
    base_s = base // n
    base_o = base % n
    if seeds is None:
        first = base
    else:
        seeds = np.unique(seeds.astype(np.int64))
        lo0 = np.searchsorted(base_s, seeds, side="left")
        hi0 = np.searchsorted(base_s, seeds, side="right")
        cnt0 = hi0 - lo0
        tot0 = int(cnt0.sum())
        idx0 = np.repeat(lo0, cnt0) + (
            np.arange(tot0) - np.repeat(np.cumsum(cnt0) - cnt0, cnt0)
        )
        first = base[idx0]  # already sorted (gathered in base order)
        if len(first) == 0:
            return first, first
    # reach = LSM-style list of sorted pieces, consolidated once at the
    # end: a per-round union1d would re-sort the whole reach every round
    # (O(rounds x |closure| log) — the dominant cost for deep graphs)
    pieces = [first]
    reach_total = len(first)
    delta = first
    while True:
        da = delta // n
        db = delta % n
        lo = np.searchsorted(base_s, db, side="left")
        hi = np.searchsorted(base_s, db, side="right")
        cnt = hi - lo
        total = int(cnt.sum())
        if total > cap:
            raise OverflowError(_OVERFLOW)
        if total == 0:
            break
        # gather build rows lo[i]:hi[i] for each delta row i (CSR-style)
        idx = np.repeat(lo, cnt) + (
            np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        )
        new = np.unique(np.repeat(da, cnt) * n + base_o[idx])
        # new \ reach: sorted-set difference against each piece
        for p in pieces:
            if len(new) == 0:
                break
            pos = np.searchsorted(p, new)
            pos[pos == len(p)] = len(p) - 1
            new = new[p[pos] != new]
        if len(new) == 0:
            break
        if reach_total + len(new) > cap:
            raise OverflowError(_OVERFLOW)
        pieces.append(new)
        # geometric piece merging: pieces are pairwise-disjoint sorted
        # sets, so a merge is just sort(concat); merging while the new
        # piece is >= half its predecessor keeps piece sizes geometric,
        # the piece count O(log N) for the per-round set-diff scan, and
        # TOTAL merge work O(N log N) — both a consolidate-all-every-k-
        # rounds scheme (O(rounds x N log)) and an equal-size binary
        # counter (never carries when piece sizes decline monotonically,
        # as on chains) measured 10-60x slower on an 11k-deep chain
        while len(pieces) > 1 and 2 * len(pieces[-1]) >= len(pieces[-2]):
            b = pieces.pop()
            a = pieces.pop()
            pieces.append(np.sort(np.concatenate((a, b))))
        reach_total += len(new)
        delta = new
    out = np.unique(np.concatenate(pieces)) if len(pieces) > 1 else pieces[0]
    return out // n, out % n


def compose(left: DataFrame, right: DataFrame) -> DataFrame:
    """Path composition: (left.subj, right.obj) for every left.obj =
    right.subj, with duplicates kept so each caller dedups where it needs
    to. The right side is renamed rather than aliased: both sides can be
    the SAME checkpointed plan, and alias-based self-joins hit
    attribute-reuse resolution failures (key not found: subj#N)."""
    r = right.select(F.col("subj").alias("_rs"), F.col("obj").alias("_ro"))
    return left.join(r, left["obj"] == r["_rs"]).select(
        "subj", F.col("_ro").alias("obj")
    )


def _checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` localCheckpointed, with its row count read from the same job
    as an Observation metric instead of a second action."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint()
    return out, obs.get["rows"]


def _closure(base: DataFrame, seeds: DataFrame | None = None) -> DataFrame:
    """(subj, obj) pairs of the '+' closure of the distinct ``base``, or
    with ``seeds`` (one non-null 'node' column) only those whose subj is a
    seed. Inputs that fit one task run :func:`_closure_kernel`; otherwise,
    or when the kernel overflows, :func:`_closure_loop` runs. Null-keyed
    edge sets also take the loop (a null-obj edge composes under a non-null
    join key there, which the kernel's dense coding does not reproduce)."""
    cap = LOCAL_PAIR_CAP
    seeded = seeds is not None
    local, _ = run_single_task(
        [base, seeds] if seeded else [base],
        lambda c, n: _closure_kernel(
            *c[0], cap, seeds=c[1][0] if seeded else None
        ),
        PAIR,
    )
    return local if local is not None else _closure_loop(base, seeds)


def _closure_loop(base: DataFrame, seeds: DataFrame | None = None) -> DataFrame:
    """Distributed frontier loop of :func:`_closure`, run until a round
    adds no pair. Its first delta is ``base``, or ``base ⋉ seeds``.

    Mirroring the reference's direct-vs-index adaptivity (zelph.cpp:44-47),
    the loop runs ``AUTO_SWITCH_ROUND`` cheap linear rounds (delta ⋈ base)
    first — shallow graphs (taxonomies) finish before the switch — then an
    unseeded loop flips to doubling so a deep chain costs O(log diameter)
    further rounds instead of one per level. Doubling joins delta ⋈ reach,
    not reach ⋈ reach (which regenerates every known pair O(depth) times);
    it is complete because any pair at distance L in (hi, 2*hi] splits at
    the exact-distance-hi midpoint m: d(subj, m) = hi puts (subj, m) in the
    last delta (range (lo, hi]) and d(m, obj) = L - hi <= hi puts (m, obj)
    in reach."""
    first = base
    if seeds is not None:
        first = base.join(
            seeds.select(F.col("node").alias("subj")), "subj", "left_semi"
        )
    delta, rows = _checkpoint(first)
    # reach = union of per-round pieces, each checkpointed once: a reach
    # re-checkpointed every round re-copies the whole result each round
    pieces = [delta]
    reach_rows = rows

    def reach_df():
        return reduce(DataFrame.unionByName, pieces)

    # a checkpointed piece keeps its join's compounding size estimate
    # (measured 3e24 bytes for a 5k-row piece after four rounds), so the
    # planner never broadcasts the reach on its own: hint it while its
    # exact size is under the 2M-row bound the fixpoint uses for its delta
    def _small(df):
        return F.broadcast(df) if reach_rows <= 2_000_000 else df

    for rnd in count():
        if not rows:
            return reach_df()
        # Only the unseeded loop doubles (delta ⋈ reach after
        # AUTO_SWITCH_ROUND): a seeded reach holds only seed-rooted pairs,
        # so delta ⋈ reach would miss paths through non-seed nodes. Base
        # is hinted only when the loop started from it (|base| <= |reach|).
        if seeds is not None:
            right = base
        else:
            right = _small(reach_df() if rnd >= AUTO_SWITCH_ROUND else base)
        step = compose(delta, right).distinct()
        delta, rows = _checkpoint(
            step.join(_small(reach_df()), on=PAIR, how="left_anti")
        )
        if rows:
            pieces.append(delta)
            reach_rows += rows


def transitive_closure(pairs: DataFrame, prepared: bool = False) -> DataFrame:
    """All (subj, obj) with a directed path subj ->+ obj ('+' closure).

    ``prepared``: the caller guarantees ``pairs`` is already distinct and
    materialized (the analog of zelph's cached per-predicate index,
    zelph.cpp:44-47) — skip the initial dedup+checkpoint so repeated
    closures over one slice don't re-materialize it."""
    base = (
        pairs if prepared else pairs.select(*PAIR).distinct().localCheckpoint()
    )
    return _closure(base)


def closure_with_start(pairs: DataFrame, prepared: bool = False) -> DataFrame:
    """'*' closure: '+' closure ∪ identity over every node present
    (include_start=True in zelph.cpp:267-296; SPARQL p* vs p+)."""
    plus = transitive_closure(pairs, prepared=prepared)
    nodes = (
        pairs.select("subj").union(pairs.select(F.col("obj").alias("subj"))).distinct()
    )
    ident = nodes.select("subj", F.col("subj").alias("obj"))
    return plus.unionByName(ident).distinct()


def _image_kernel(es, eo, fs, fp, fo, cap):
    """Image of the transitive closure: all (X, p, P) with X ->+ K over the
    (es, eo) edge list and (K, p, P) in the (fs, fp, fo) fact list, without
    materializing the closure outside this function. Dense int ids; facts
    of several predicates share the one closure, and each (X, P) comes back
    once per predicate that reaches it.
    Raises OverflowError past ``cap``: _OVERFLOW from the closure
    stage (the closure itself does not fit — retrying it locally is
    pointless), _OVERFLOW_IMG from the image stage (the closure
    fits; only the fused gather overflowed).
    """
    import numpy as np

    cs, co = _closure_kernel(es, eo, cap)
    if len(cs) == 0 or len(fs) == 0:
        return cs[:0], cs[:0], co[:0]
    # facts CSR sorted by K
    order = np.argsort(fs, kind="stable")
    fs_sorted = fs[order]
    lo = np.searchsorted(fs_sorted, co, side="left")
    hi = np.searchsorted(fs_sorted, co, side="right")
    cnt = hi - lo
    total = int(cnt.sum())
    if total > cap:
        raise OverflowError(_OVERFLOW_IMG)
    if total == 0:
        return cs[:0], cs[:0], co[:0]
    idx = order[
        np.repeat(lo, cnt)
        + (np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt))
    ]
    # dedup within each predicate on the rank-prefixed key (rank·n + X)·n + P
    preds, rank = np.unique(fp, return_inverse=True)
    n = int(max(int(cs.max()), int(fo.max()))) + 1
    if len(preds) * n * n >= (1 << 62):
        raise OverflowError(_OVERFLOW_IMG)
    img = np.unique((rank[idx] * n + np.repeat(cs, cnt)) * n + fo[idx])
    return img // n % n, preds[img // (n * n)], img % n


def closure_image(pairs: DataFrame, facts: DataFrame) -> DataFrame:
    """DISTINCT (subj, pred, obj) such that subj ->+ K over ``pairs`` and
    (K, pred, obj) in ``facts`` — the chain-inheritance image s+ ⨝ p-facts
    (fixpoint.py split_inherit), for every p of the facts at once, WITHOUT
    materializing s+ when the single-task path is eligible: the
    multi-million-pair closure is an intermediate only, so shipping it out
    of the kernel task and shuffling it into a join costs more than the
    image itself. Falls back to ``transitive_closure(pairs) ⨝ facts`` when
    the runner declines (id types, null edge keys, edges + facts over its
    row budget) or the kernel overflows. ``pairs`` is (subj, obj), ``facts``
    is (subj, pred, obj); fact rows with a null id are ignored on both
    paths.
    """
    base = pairs.select(*PAIR).distinct().localCheckpoint()
    facts = facts.where(
        F.col("subj").isNotNull()
        & F.col("pred").isNotNull()
        & F.col("obj").isNotNull()
    ).select(*TRIPLE)
    cap = LOCAL_PAIR_CAP
    img, reason = run_single_task(
        [base, facts], lambda c, n: _image_kernel(*c[0], *c[1], cap), TRIPLE
    )
    if img is not None:
        return img
    # closure-stage overflow: the same closure kernel would grind to the
    # identical overflow — skip straight to the distributed loop. Otherwise
    # (image-stage overflow, facts over the budget) the closure alone may
    # still fit, so only the join goes distributed.
    clo = (_closure_loop if reason == _OVERFLOW else _closure)(base)
    right = facts.select(F.col("subj").alias("_k"), "pred", "obj")
    return (
        clo.select("subj", F.col("obj").alias("_k"))
        .join(right, "_k")
        .select(*TRIPLE)
        .distinct()
    )


def transitive_targets(
    pairs: DataFrame,
    start: DataFrame,
    include_start: bool = False,
    prepared: bool = False,
) -> DataFrame:
    """Forward closure from a seed set (zelph.cpp:267-281): returns
    (start, node) rows. ``start`` is a one-column DF named 'node'.
    ``prepared``: see :func:`transitive_closure`."""
    base = (
        pairs if prepared else pairs.select(*PAIR).distinct().localCheckpoint()
    )
    seeds = start.select("node").where(F.col("node").isNotNull())
    visited = _closure(base, seeds).select(
        F.col("subj").alias("start"), F.col("obj").alias("node")
    )
    if include_start:
        ident = start.select(
            F.col("node").alias("start"), F.col("node").alias("node")
        )
        visited = visited.unionByName(ident).distinct()
    return visited


def transitive_sources(pairs: DataFrame, start: DataFrame, **kw) -> DataFrame:
    """Backward closure (zelph.cpp:283-296): swap edge direction."""
    rev = pairs.select(F.col("obj").alias("subj"), F.col("subj").alias("obj"))
    out = transitive_targets(rev, start, **kw)
    return out
