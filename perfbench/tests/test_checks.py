"""Output checks reject tampered results; inputs publish atomically and
match the test data's shape; the memory sampler watches only its blocks."""

import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, inputs, rss


def _frame():
    return pd.DataFrame({
        "k": ["a", "b", "c"], "n": [1, 2, 3], "x": [0.1, 0.25, 1 / 3],
    })


def test_frames_match_ignores_row_order_and_column_case():
    got = _frame().iloc[::-1].rename(columns={"k": "K"})
    want = _frame()[["x", "n", "k"]].astype({"n": "float64"})
    want["x"] = want["x"] + 1e-12  # last-digit difference between engines
    assert checks.frames_match(got, want) is None


@pytest.mark.parametrize("tamper", [
    lambda f: f.assign(x=f["x"].where(f["k"] != "b", 0.26)),
    lambda f: f.assign(k=f["k"].replace("c", "z")),
    lambda f: f.iloc[:2],
    lambda f: f.rename(columns={"n": "m"}),
    lambda f: f.assign(n=f["n"].astype(float).where(f["k"] != "a", float("nan"))),
])
def test_a_tampered_result_fails_its_check(tamper):
    assert checks.frames_match(tamper(_frame()), _frame()) is not None


def test_digest_expectation_names_the_difference():
    assert checks.expect("edges", (5, 42), (5, 42)) is None
    bad = checks.expect("edges", (5, 43), (5, 42))
    assert bad.startswith("edges:") and "43" in bad


def test_publish_is_atomic(tmp_path):
    final = tmp_path / "corpus-n3-s1"

    def write_ok(d):
        pq.write_table(pa.table({"a": [1, 2, 3]}), d / "t.parquet")

    def write_fails(d):
        (d / "partial").mkdir()
        raise RuntimeError("generation aborted")

    with pytest.raises(RuntimeError):
        inputs.publish(final, write_fails)
    assert not final.exists()

    inputs.publish(final, write_ok)
    assert pq.read_table(final / "t.parquet").num_rows == 3
    assert not final.with_name(final.name + ".tmp").exists()


def test_documents_hold_near_duplicates_like_the_test_data():
    docs = inputs._documents(np.random.default_rng(3), 500).to_pydict()
    texts = docs["text"]
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(dups) == 25
    assert all(t[: -len(" dup")] in texts for t in dups)
    words = [len(t.split()) for t in texts if not t.endswith(" dup")]
    assert min(words) >= 10 and max(words) <= 99
    assert docs["n_chars"] == [len(t) for t in texts]


def test_driver_tables_depend_only_on_the_seed():
    a = inputs.driver_tables(0.001, seed=5)
    b = inputs.driver_tables(0.001, seed=5)
    c = inputs.driver_tables(0.001, seed=6)
    assert set(a) == set(checks.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_tree_rss_counts_child_processes():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in rss.descendants(os.getpid())
        assert rss.tree_rss_bytes(os.getpid()) > rss.rss_bytes(os.getpid())
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in rss.descendants(os.getpid())


def test_peak_sampler_watches_only_sampling_blocks():
    with rss.PeakSampler(period=0.01) as peak:
        time.sleep(0.1)
        assert peak.samples == 0 and peak.peak_bytes == 0
        with peak.sampling():
            time.sleep(0.1)
        inside = peak.samples
        time.sleep(0.1)
    assert inside >= 3 and peak.samples == inside
    assert peak.peak_bytes >= rss.rss_bytes(os.getpid()) // 2
