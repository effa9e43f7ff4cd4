"""The single-task runner sizes every input it loads into its one task and
declines before running anything it cannot hold."""

from __future__ import annotations

import pandas as pd

from zelph_spark import closure, single_task

CHAIN = [(i, i + 1) for i in range(20)]
FACTS = [(i, 500 + i % 2, 1000 + i) for i in range(30)]


def _df(spark, rows, columns=("subj", "obj")):
    return spark.createDataFrame(pd.DataFrame(rows, columns=list(columns)))


# a lambda, not a def: the worker cannot import this test module, so the
# kernel must pickle by value
_closure_kernel = lambda c, n: closure._closure_kernel(*c[0], 10_000)  # noqa: E731


def test_fits_returns_result_and_sizes(spark):
    out, sizes = single_task.run_single_task(
        [_df(spark, CHAIN)], _closure_kernel, closure.PAIR
    )
    assert sizes == [len(CHAIN)]
    assert out.count() == 20 * 21 // 2


def test_facts_side_counts_toward_budget(spark, monkeypatch):
    # the 20 edges alone fit a 40-row budget; edges + 30 facts do not
    monkeypatch.setattr(single_task, "LOCAL_ROWS", 40)
    edges = _df(spark, CHAIN)
    facts = _df(spark, FACTS, ("subj", "pred", "obj"))
    out, reason = single_task.run_single_task(
        [edges, facts],
        lambda c, n: closure._image_kernel(*c[0], *c[1], 10_000),
        closure.TRIPLE,
    )
    assert (out, reason) == (None, "budget")
    # closure_image falls back to closure ⨝ facts with the same answer
    got = {tuple(r) for r in closure.closure_image(edges, facts).collect()}
    reach = {(a, b) for a in range(21) for b in range(a + 1, 21)}
    want = {(x, p, o) for x, k in reach for k2, p, o in FACTS if k == k2}
    assert got == want


def test_seed_set_over_budget_declines(spark, monkeypatch):
    monkeypatch.setattr(single_task, "LOCAL_ROWS", 40)
    seeds = _df(spark, [(i % 20,) for i in range(50)], ["node"])
    out, reason = single_task.run_single_task(
        [_df(spark, CHAIN), seeds],
        lambda c, n: closure._closure_kernel(*c[0], 10_000, seeds=c[1][0]),
        ["start", "node"],
    )
    assert (out, reason) == (None, "budget")
    got = closure.transitive_targets(_df(spark, CHAIN), seeds)
    assert {(r.start, r.node) for r in got.collect()} == {
        (a, b) for a in range(20) for b in range(a + 1, 21)
    }


def test_mixed_id_types_decline_without_a_job(spark):
    edges = _df(spark, CHAIN)
    seeds = _df(spark, [("0",)], ["node"])
    sc = spark.sparkContext
    group = "test-single-task-mixed-types"
    sc.setJobGroup(group, "mixed id types")
    try:
        out, reason = single_task.run_single_task(
            [edges, seeds], _closure_kernel, ["start", "node"]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (out, reason) == (None, "types")
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_null_ids_decline(spark):
    edges = spark.createDataFrame([(1, 2), (2, None)], "subj long, obj long")
    out, reason = single_task.run_single_task(
        [edges], _closure_kernel, closure.PAIR
    )
    assert (out, reason) == (None, "nulls")


def test_optional_input_left_out_over_budget(spark, monkeypatch):
    """An ``optional`` last input that alone breaks the budget is left out
    of the task (the kernel gets one input, one size comes back); once it
    fits, it is loaded. ``passthrough`` columns come back undecoded."""
    edges = _df(spark, CHAIN)
    facts = _df(spark, FACTS, ("subj", "pred", "obj"))

    def kernel(c, n):
        import numpy as np

        (s, o), *rest = c
        return [np.full(len(s), len(rest), np.int64), s]

    for budget, given in ((40, 1), (50, 2)):
        monkeypatch.setattr(single_task, "LOCAL_ROWS", budget)
        out, sizes = single_task.run_single_task(
            [edges, facts], kernel, ["inputs", "subj"],
            passthrough=("inputs",), optional=1,
        )
        assert sizes == [len(CHAIN), len(FACTS)][:given]
        assert dict(out.dtypes)["inputs"] == "bigint"
        assert {tuple(r) for r in out.collect()} == {
            (given - 1, s) for s, _ in CHAIN
        }
    monkeypatch.setattr(single_task, "LOCAL_ROWS", 19)
    out, reason = single_task.run_single_task(
        [edges, facts], kernel, ["inputs", "subj"],
        passthrough=("inputs",), optional=1,
    )
    assert (out, reason) == (None, "budget")
