"""Single-task closure fast path (closure.py kernels run through
single_task.run_single_task).

The fast path must be output-identical to the distributed doubling loop on
every graph shape, fall back to the distributed loop when its pair cap
overflows (without failing a task), and handle non-integer node ids
(factorize densification).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from zelph_spark import closure, single_task


def _pairs(spark, pairs):
    return spark.createDataFrame(pd.DataFrame(pairs, columns=["subj", "obj"]))


def _facts(spark, triples):
    return spark.createDataFrame(
        pd.DataFrame(triples, columns=["subj", "pred", "obj"])
    )


GRAPHS = {
    "chain": [(i, i + 1) for i in range(20)],
    "cycle": [(0, 1), (1, 2), (2, 0), (2, 3)],
    "hub": [(0, i) for i in range(1, 30)] + [(i, 99) for i in range(1, 30)],
    "tree": [(i, i // 2) for i in range(2, 500)],
    "dupes": [(0, 1), (0, 1), (1, 2)],
    "self_loop": [(0, 0), (0, 1)],
    "deep_chain": [(i, i + 1) for i in range(100)],
}


def _closure_set(spark, edges, bound, monkeypatch, cap=None):
    monkeypatch.setattr(single_task, "LOCAL_ROWS", bound)
    if cap is not None:
        monkeypatch.setattr(closure, "LOCAL_PAIR_CAP", cap)
    df = closure.transitive_closure(_pairs(spark, edges))
    return {(r.subj, r.obj) for r in df.collect()}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_local_matches_distributed(spark, name, monkeypatch):
    edges = GRAPHS[name]
    local = _closure_set(spark, edges, 2_000_000, monkeypatch)
    dist = _closure_set(spark, edges, 0, monkeypatch)
    assert local == dist


def test_local_string_ids(spark, monkeypatch):
    edges = [(f"n{a}", f"n{b}") for a, b in GRAPHS["cycle"]]
    local = _closure_set(spark, edges, 2_000_000, monkeypatch)
    dist = _closure_set(spark, edges, 0, monkeypatch)
    assert local == dist


def test_overflow_falls_back_to_distributed(spark, monkeypatch):
    # a 10-pair cap cannot hold the 500-edge tree's closure: the kernel
    # overflows, the runner declines, and the distributed loop must
    # produce the complete closure anyway
    edges = GRAPHS["tree"]
    via_fallback = _closure_set(spark, edges, 2_000_000, monkeypatch, cap=10)
    dist = _closure_set(spark, edges, 0, monkeypatch)
    assert via_fallback == dist


def test_overflow_leaves_no_failed_task(spark, monkeypatch):
    # the kernel's overflow comes back as data, not as a task failure that
    # spark.task.maxFailures would retry
    edges = GRAPHS["tree"]
    sc = spark.sparkContext
    group = "test-overflow-no-failed-task"
    sc.setJobGroup(group, "closure kernel overflow")
    try:
        via_fallback = _closure_set(
            spark, edges, 2_000_000, monkeypatch, cap=10
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [
        tracker.getStageInfo(sid)
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    ]
    assert stages
    assert sum(st.numFailedTasks for st in stages if st) == 0
    assert via_fallback == _closure_set(spark, edges, 0, monkeypatch)


@pytest.mark.parametrize("include_start", [False, True])
@pytest.mark.parametrize("name", ["chain", "cycle", "tree", "deep_chain"])
def test_seeded_targets_local_matches_distributed(
    spark, name, include_start, monkeypatch
):
    edges = GRAPHS[name]
    # seeds: two in-graph nodes + one absent node (must appear only under
    # include_start, as (7777, 7777))
    seeds = spark.createDataFrame(
        pd.DataFrame({"node": [edges[0][0], edges[-1][1], 7777]})
    )

    def run(bound):
        monkeypatch.setattr(single_task, "LOCAL_ROWS", bound)
        df = closure.transitive_targets(
            _pairs(spark, edges), seeds, include_start=include_start
        )
        return {(r.start, r.node) for r in df.collect()}

    assert run(2_000_000) == run(0)


def test_seeded_targets_overflow_falls_back(spark, monkeypatch):
    edges = GRAPHS["tree"]
    seeds = spark.createDataFrame(pd.DataFrame({"node": [2, 3]}))

    def run(bound, cap=None):
        monkeypatch.setattr(single_task, "LOCAL_ROWS", bound)
        if cap is not None:
            monkeypatch.setattr(closure, "LOCAL_PAIR_CAP", cap)
        df = closure.transitive_targets(_pairs(spark, edges), seeds)
        return {(r.start, r.node) for r in df.collect()}

    assert run(2_000_000, cap=2) == run(0)


@pytest.mark.parametrize("name", ["chain", "cycle", "tree", "hub"])
def test_closure_image_local_matches_fallback(spark, name, monkeypatch):
    edges = GRAPHS[name]
    # facts of two preds on some closure targets, some absent nodes, plus
    # duplicates; one (K, P) carried under both preds
    nodes = sorted({n for e in edges for n in e})
    fact_rows = [
        (nodes[i], 7001 + i % 2, 10_000 + i) for i in range(0, len(nodes), 3)
    ]
    fact_rows += [(8888, 7001, 1), (nodes[0], 7001, 10_000)]  # absent K; dup
    fact_rows += [(nodes[0], 7002, 10_000)]
    facts = _facts(spark, fact_rows)

    def run(bound):
        monkeypatch.setattr(single_task, "LOCAL_ROWS", bound)
        df = closure.closure_image(_pairs(spark, edges), facts)
        return {tuple(r) for r in df.collect()}

    local = run(2_000_000)
    fallback = run(0)
    assert local == fallback
    # cross-check against the unfused plan
    monkeypatch.setattr(single_task, "LOCAL_ROWS", 0)
    clo = closure.transitive_closure(_pairs(spark, edges))
    import pyspark.sql.functions as F

    right = facts.select(F.col("subj").alias("_k"), "pred", "obj")
    manual = {
        tuple(r)
        for r in clo.select("subj", F.col("obj").alias("_k"))
        .join(right, "_k")
        .select("subj", "pred", "obj")
        .distinct()
        .collect()
    }
    assert local == manual


def test_closure_image_overflow_falls_back(spark, monkeypatch):
    edges = GRAPHS["tree"]
    facts = _facts(spark, [(i, 7001 + i % 2, 9000 + i) for i in range(2, 60)])
    monkeypatch.setattr(single_task, "LOCAL_ROWS", 2_000_000)
    monkeypatch.setattr(closure, "LOCAL_PAIR_CAP", 5)
    via_fallback = {
        tuple(r)
        for r in closure.closure_image(_pairs(spark, edges), facts).collect()
    }
    monkeypatch.setattr(single_task, "LOCAL_ROWS", 0)
    monkeypatch.setattr(closure, "LOCAL_PAIR_CAP", 67108864)
    dist = {
        tuple(r)
        for r in closure.closure_image(_pairs(spark, edges), facts).collect()
    }
    assert via_fallback == dist


def test_image_kernel_one_row_per_pred():
    # X=0 reaches K=1 and K=2, and both carry P=9 under preds 5 and 6:
    # (0, 9) comes back once per pred, not once per K; no Spark
    es, eo = np.array([0, 0, 3]), np.array([1, 2, 0])
    fs, fp, fo = (np.array(a) for a in ([1, 2, 1, 2], [5, 5, 6, 6], [9] * 4))
    x, p, o = closure._image_kernel(es, eo, fs, fp, fo, 1000)
    assert sorted(zip(x.tolist(), p.tolist(), o.tolist())) == [
        (0, 5, 9), (0, 6, 9), (3, 5, 9), (3, 6, 9)
    ]


def test_kernel_deep_chain_and_cycle_selfpairs():
    # depth-53 chain: every (i, j) with i < j; pure-kernel check, no Spark
    src = np.arange(53)
    dst = np.arange(1, 54)
    s, o = closure._closure_kernel(src, dst, 10_000_000)
    got = set(zip(s.tolist(), o.tolist()))
    assert got == {(i, j) for i in range(54) for j in range(i + 1, 54)}
    # cycle: every node reaches every node including itself
    s, o = closure._closure_kernel(
        np.array([0, 1, 2]), np.array([1, 2, 0]), 1000
    )
    assert set(zip(s.tolist(), o.tolist())) == {
        (i, j) for i in range(3) for j in range(3)
    }
