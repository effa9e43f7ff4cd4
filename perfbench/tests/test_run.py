"""The timed loop and the result line, with a stand-in workload."""

import pytest

from perfbench import run

SPEC = [{"name": "run_s", "unit": "s"}, {"name": "setup_s", "unit": "s"}]


class Fake:
    """A workload whose iterations take no Spark; ``bad`` sets what its
    output check reports, ``boom`` makes ``run`` raise."""

    def __init__(self, bad=(), boom=False):
        self.bad, self.boom = list(bad), boom
        self.checked = 0

    def prepare(self):
        pass

    def run(self, tracer):
        if self.boom:
            raise ValueError("engine error")
        return 4

    def check(self):
        self.checked += 1
        return self.bad


@pytest.mark.parametrize("wl,failed,attempted", [
    (Fake(), 0, 4),
    (Fake(bad=["q1: rows 5 vs 6"]), 1, 4),
    (Fake(boom=True), 1, 1),
])
def test_a_failed_iteration_keeps_its_time_and_gives_a_result(wl, failed, attempted):
    res = run.measure(wl, 0)
    assert len(res["samples"]) == 1 and res["samples"][0] >= 0
    out = run.result(SPEC, {"run_s": res["samples"][0], "setup_s": 1.5}, res)
    assert out["correct"] is (failed == 0)
    assert (out["attempted"], out["failed"]) == (attempted, failed)
    assert out["metrics"]["run_s"] == {"value": res["samples"][0], "unit": "s"}
    assert out["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    assert wl.checked == (0 if wl.boom else 1)


def test_the_check_runs_outside_the_watched_block():
    events = []

    class Watched(Fake):
        def run(self, tracer):
            events.append("run")
            return 1

        def check(self):
            events.append("check")
            return []

    class Around:
        def __enter__(self):
            events.append("enter")

        def __exit__(self, *exc):
            events.append("exit")

    run.measure(Watched(), 0, around_run=Around)
    assert events == ["enter", "run", "exit", "check"]
