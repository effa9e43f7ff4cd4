"""Single-task connected-components fast path (canon._components_kernel
run through single_task.run_single_task).

Must be output-identical to the distributed min-propagation loop for every
graph shape and id type, including the min-VALUE (not min-factorize-code)
representative choice, which rests on the runner's sorted factorize.
"""

from __future__ import annotations

import pandas as pd
import pytest

from zelph_spark import canon, single_task


def _pairs(spark, pairs):
    return spark.createDataFrame(pd.DataFrame(pairs, columns=["a", "b"]))


GRAPHS = {
    "chain": [(i, i + 1) for i in range(30)],
    "two_comps": [(0, 1), (1, 2), (10, 11), (12, 11)],
    "star": [(5, i) for i in range(6, 40)],
    "self_and_dupes": [(3, 3), (1, 2), (2, 1), (1, 2)],
    "triangle_plus_isolated_selfloop": [(7, 8), (8, 9), (9, 7), (42, 42)],
}


def _cc(spark, pairs, bound, monkeypatch):
    monkeypatch.setattr(single_task, "LOCAL_ROWS", bound)
    df = canon.connected_components(_pairs(spark, pairs))
    return {(r.node, r.comp) for r in df.collect()}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_local_matches_distributed(spark, name, monkeypatch):
    local = _cc(spark, GRAPHS[name], 2_000_000, monkeypatch)
    dist = _cc(spark, GRAPHS[name], 0, monkeypatch)
    assert local == dist


def test_min_value_not_min_code(spark, monkeypatch):
    # first-appearance factorize order differs from value order: node 9
    # appears before node 1, but the representative must be 1
    pairs = [(9, 5), (5, 1)]
    local = _cc(spark, pairs, 2_000_000, monkeypatch)
    assert local == {(9, 1), (5, 1), (1, 1)}


def test_string_ids_match(spark, monkeypatch):
    pairs = [("zz", "m"), ("m", "aa"), ("q", "q2")]
    local = _cc(spark, pairs, 2_000_000, monkeypatch)
    dist = _cc(spark, pairs, 0, monkeypatch)
    assert local == dist == {
        ("zz", "aa"), ("m", "aa"), ("aa", "aa"), ("q", "q"), ("q2", "q"),
    }
