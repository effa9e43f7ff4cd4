"""Layer spans recorded from outside the engine.

The tracer wraps the public functions of each engine module (the layer is
the module's name) and records one span per call: name, layer, start, end
and parent. Each span runs its Spark jobs under a job group of its own and
restores the parent's group on exit; after the traced iteration the jobs of
every group are read back from the driver's status store (tasks, shuffle,
spill) without running a Spark job.

Where the engine defers work, the work lands in the span of the action that
forces it:

- a pipeline stage commit (``run_stage``) is charged to the layer that owns
  the stage; the parquet write inside it, which runs the stage's whole lazy
  plan, becomes a ``force`` span of that layer, and the rest of the commit
  (manifest counts, rename) stays with ``checkpoint``;
- a contract query's ``toPandas`` is charged to the layer of the last
  engine call the query made while building its plan, or to ``entry`` when
  it made none (plain Catalyst queries in ``__spark_entry__``);
- eager calls (``canon.connected_components``, ``closure.*``,
  ``reasoning.run_fixpoint``) nest inside those spans with their own self
  time.

Module attributes are replaced by identity across every loaded engine
module, so names that callers bound at import (``pipeline`` binds
``run_stage`` and ``run_fixpoint``; ``sparql`` binds the closure
functions) are wrapped too.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import statistics
import sys
import time
from dataclasses import dataclass, field

# layer name -> engine modules whose public functions belong to it
LAYER_MODULES = {
    "pipeline": ["zelph_spark.pipeline"],
    "extract": ["zelph_spark.extract"],
    "link": ["zelph_spark.link"],
    "canon": ["zelph_spark.canon"],
    "graph": ["zelph_spark.graph"],
    "checkpoint": ["zelph_spark.checkpoint"],
    "closure": ["zelph_spark.closure"],
    "reasoning": [
        "zelph_spark.reasoning.fixpoint",
        "zelph_spark.reasoning.fused",
        "zelph_spark.reasoning.compiler",
    ],
    "sparql": ["zelph_spark.sparql"],
    "statements": ["zelph_spark.statements"],
    "clusters": ["zelph_spark.clusters"],
    "dedup": ["zelph_spark.ops.dedup"],
    "similarity": ["zelph_spark.ops.similarity"],
    "textops": ["zelph_spark.ops.textops"],
    "multimodal": ["zelph_spark.ops.multimodal"],
}
LAYERS = list(LAYER_MODULES) + ["entry"]

# pipeline stage -> layer whose lazy plan the stage commit forces
STAGE_LAYER = {
    "extracted": "extract",
    "links": "link",
    "merge_map": "canon",
    "canon_triples": "canon",
    "edges": "graph",
    "names": "graph",
    "saturated": "reasoning",
}

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    layer: str | None  # None for the benchmark's own root span
    kind: str  # run | call | stage | force | query
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    prev_group: str | None = None  # the job group to restore on exit
    children: list = field(default_factory=list)
    stats: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, by_id: dict[int, Span]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    kids = [(by_id[c].start, by_id[c].end) for c in span.children]
    return span.duration - covered(kids, span.start, span.end)


class NullTracer:
    """Stands in for the tracer on untraced iterations: spans cost nothing
    and record nothing."""

    def span(self, name: str, layer: str | None, kind: str):
        return contextlib.nullcontext(Span(0, name, layer, kind, None, 0.0))

    def reset(self) -> None:
        pass

    def last_call_layer(self, span: Span) -> None:
        return None


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.fixpoint_logs: list[list[dict]] = []
        # time the tracer's own bookkeeping (job-group calls) adds inside
        # the traced iteration
        self.overhead_s = 0.0
        self._patches: list[tuple[object, str, object]] = []
        self._prefix = f"perfbench-{id(self):x}-"
        self._resets = 0  # job groups stay unique across iterations

    # -- spans -------------------------------------------------------------

    def begin(self, name: str, layer: str | None, kind: str) -> Span:
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        span = Span(
            sid=len(self.spans), name=name, layer=layer, kind=kind,
            parent=parent.sid if parent else None, start=t0,
        )
        span.group = f"{self._prefix}{self._resets}-{span.sid}"
        span.prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, span.group)
        if parent:
            parent.children.append(span.sid)
        self.spans.append(span)
        self.stack.append(span)
        self.overhead_s += time.perf_counter() - t0
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        self.sc.setLocalProperty(GROUP_KEY, span.prev_group)
        popped = self.stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        self.overhead_s += time.perf_counter() - span.end

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None, kind: str):
        span = self.begin(name, layer, kind)
        try:
            yield span
        finally:
            self.end(span)

    def reset(self) -> None:
        self.spans, self.stack, self.fixpoint_logs = [], [], []
        self.overhead_s = 0.0
        self._resets += 1

    def enclosing_layer(self, skip: str = "checkpoint") -> str:
        """Layer of the nearest open span not in ``skip``."""
        for s in reversed(self.stack):
            if s.layer and s.layer != skip:
                return s.layer
        return skip

    def last_call_layer(self, span: Span) -> str | None:
        """Layer of the last engine call made directly under ``span``."""
        for sid in reversed(span.children):
            if self.spans[sid].kind == "call":
                return self.spans[sid].layer
        return None

    # -- wrapping ----------------------------------------------------------

    def _wrap(self, fn, layer_of, kind: str = "call", on_return=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(fn.__qualname__, layer_of(args, kwargs), kind):
                out = fn(*args, **kwargs)
            if on_return is not None:
                on_return(out)
            return out

        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def install(self) -> None:
        """Wrap every public engine function, then rebind each name that
        refers to an original function in every loaded engine module."""
        from pyspark.sql.readwriter import DataFrameWriter

        from zelph_spark import checkpoint

        wrapped: dict[int, object] = {}
        for layer, mods in LAYER_MODULES.items():
            for mod_name in mods:
                mod = importlib.import_module(mod_name)
                for name, fn in vars(mod).items():
                    if (
                        name.startswith("_")
                        or not inspect.isfunction(fn)
                        or fn.__module__ != mod_name
                    ):
                        continue
                    if fn is checkpoint.run_stage:
                        w = self._wrap(
                            fn,
                            lambda a, k: STAGE_LAYER.get(
                                k.get("stage", a[2] if len(a) > 2 else ""),
                                "checkpoint",
                            ),
                            kind="stage",
                        )
                    elif name == "run_fixpoint":
                        w = self._wrap(
                            fn, lambda a, k, l=layer: l,
                            on_return=lambda r: self.fixpoint_logs.append(r.log),
                        )
                    else:
                        w = self._wrap(fn, lambda a, k, l=layer: l)
                    wrapped[id(fn)] = w
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (
                mod_name.startswith("zelph_spark") or mod_name == "__spark_entry__"
            ):
                continue
            for name, value in list(vars(mod).items()):
                if id(value) in wrapped:
                    self._set(mod, name, wrapped[id(value)])
        for meth in ("write", "read"):
            self._set(
                checkpoint.StageStore, meth,
                self._wrap(getattr(checkpoint.StageStore, meth),
                           lambda a, k: "checkpoint"),
            )
        self._set(
            DataFrameWriter, "parquet",
            self._wrap(DataFrameWriter.parquet,
                       lambda a, k: self.enclosing_layer(), kind="force"),
        )

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, value = self._patches.pop()
            setattr(owner, attr, value)

    # -- status store ------------------------------------------------------

    def collect_stats(self) -> None:
        """Attach jobs, tasks, shuffle and spill to every span. Run after
        the traced work, outside any timed region: the status store is fed
        by the listener bus, which is drained first."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for span in self.spans:
            jobs = list(tracker.getJobIdsForGroup(span.group))
            st = {"jobs": len(jobs), "tasks": 0, "failed_tasks": 0,
                  "shuffle_bytes": 0, "spill_bytes": 0}
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    try:
                        stage = store.lastStageAttempt(sid)
                    except Exception:  # skipped stages never ran
                        continue
                    if str(stage.status()) == "SKIPPED":
                        continue
                    st["tasks"] += stage.numCompleteTasks() + stage.numFailedTasks()
                    st["failed_tasks"] += stage.numFailedTasks()
                    st["shuffle_bytes"] += stage.shuffleWriteBytes()
                    st["spill_bytes"] += stage.diskBytesSpilled()
            span.stats.update(st)

    # -- aggregation -------------------------------------------------------

    def records(self) -> list[dict]:
        by_id = {s.sid: s for s in self.spans}
        return [
            {"sid": s.sid, "name": s.name, "layer": s.layer, "kind": s.kind,
             "parent": s.parent, "start": s.start, "end": s.end,
             "self_s": self_time(s, by_id), **s.stats}
            for s in self.spans
        ]


def in_run(records: list[dict]) -> tuple[dict | None, list[dict]]:
    """The root span (``kind == "run"``) and the spans below it. Spans
    opened outside the root, such as the output check's reads after the
    timer stopped, are left out."""
    roots = [r for r in records if r["kind"] == "run"]
    if not roots:
        return None, []
    root = roots[0]
    below = {root["sid"]}
    for r in sorted(records, key=lambda r: r["sid"]):  # parents open first
        if r["parent"] in below:
            below.add(r["sid"])
    return root, [r for r in records if r["sid"] in below and r is not root]


def layer_metrics(records: list[dict], fixpoint_logs: list[list[dict]]) -> dict[str, float]:
    """Per-layer metrics of one traced iteration: the spans below its root
    span.

    ``trace.coverage`` is the share of the root's duration that a module
    layer accounts for. The root's own self time and the self time of the
    ``pipeline`` layer, which is ``run_pipeline``'s glue between stages,
    count as not covered."""
    root, records = in_run(records)
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [r for r in records if r["layer"] == layer]
        calls = sum(r["kind"] == "call" for r in mine)
        jobs = sum(r.get("jobs", 0) for r in mine)
        out[f"{layer}.busy_s"] = sum(r["self_s"] for r in mine)
        out[f"{layer}.calls"] = calls
        out[f"{layer}.jobs"] = jobs
        out[f"{layer}.tasks"] = sum(r.get("tasks", 0) for r in mine)
        out[f"{layer}.shuffle_mb"] = sum(r.get("shuffle_bytes", 0) for r in mine) / 1e6
        out[f"{layer}.spill_mb"] = sum(r.get("spill_bytes", 0) for r in mine) / 1e6
        if layer in ("closure", "canon"):
            out[f"{layer}.failed_tasks"] = sum(r.get("failed_tasks", 0) for r in mine)
            out[f"{layer}.jobs_per_call"] = jobs / calls if calls else 0.0
    out.update(fixpoint_metrics(fixpoint_logs))
    traced = root["end"] - root["start"] if root else 0.0
    unattributed = (root["self_s"] if root else 0.0) + out["pipeline.busy_s"]
    out["trace.coverage"] = 1.0 - unattributed / traced if traced else 0.0
    out["trace.run_s"] = traced
    return out


def fixpoint_metrics(logs: list[list[dict]]) -> dict[str, float]:
    """Round figures from the ``fixpoint_log`` of every ``run_fixpoint``
    call. A round is a positive, inherit or NAF log entry; its time is
    ``sec`` (positive) or ``inject_sec`` (inherit)."""
    rounds = [e for log in logs for e in log
              if e.get("stratum") in ("positive", "inherit", "naf")]
    times = [e.get("sec", e.get("inject_sec")) for e in rounds]
    times = [t for t in times if t is not None]
    useful = sum(1 for e in rounds if e.get("new", 0) > 0)
    return {
        "reasoning.rounds": len(rounds),
        "reasoning.round_s": statistics.median(times) if times else 0.0,
        "reasoning.plan_s": sum(e.get("plan_sec", 0.0) for log in logs for e in log),
        "reasoning.useful_round_ratio": useful / len(rounds) if rounds else 0.0,
    }
