"""zelph-spark benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload kg|contract \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. With ``--trace 0`` the result holds the
end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` it holds the
per-layer metrics of the same timed iterations, run traced. The last line
of standard output is the JSON result; the line before it describes the
launch, set-up and samples. A wrong output still gives a result line, with
``correct`` false and the failure count. The exit code is non-zero, and no
result is printed, when the engine is missing or set-up fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
GEN_REPEATS = 3


def measure(wl, seconds: float, tracer=None, on_traced=None,
            around_run=contextlib.nullcontext) -> dict:
    """Timed iterations until ``seconds`` have passed (at least one). Each
    iteration's ``wl.run`` executes inside ``around_run()``; its output is
    checked after the timer stops. An iteration that raised or failed its
    check still counts its time. With a tracer, each iteration runs inside
    one root span and ``on_traced`` reads its figures back before the
    check."""
    from perfbench import tracing

    tr = tracing.NullTracer() if tracer is None else tracer
    out = {"samples": [], "attempted": 0, "failures": []}
    t_start = time.perf_counter()
    while True:
        wl.prepare()
        tr.reset()
        raised = None
        with around_run():
            t0 = time.perf_counter()
            try:
                with tr.span("run", None, "run"):
                    out["attempted"] += wl.run(tr)
            except Exception:
                out["attempted"] += 1
                raised = traceback.format_exc(limit=3)
            out["samples"].append(time.perf_counter() - t0)
        if on_traced is not None:
            on_traced()
        out["failures"] += [raised] if raised else wl.check()
        if time.perf_counter() - t_start >= seconds:
            return out


def traced_iteration_metrics(wl, tracer) -> tuple[dict, list]:
    from perfbench import tracing

    tracer.collect_stats()
    records = tracer.records()
    m = tracing.layer_metrics(records, tracer.fixpoint_logs)
    m["checkpoint.stored_mb"] = wl.stored_bytes() / 1e6
    m["trace.overhead_s"] = tracer.overhead_s
    return m, records


def result(spec_metrics: list[dict], values: dict, res: dict) -> dict:
    """The result line: every metric of ``spec_metrics`` with its unit,
    and the failure count of the timed iterations."""
    return {
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": len(res["failures"]),
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec_metrics
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import zelph_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine is not in {ROOT}: {ex}", file=sys.stderr)
        return 2
    from perfbench import host, rss, tracing
    from perfbench.workloads import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    settings = host.launch_settings(ROOT, work)
    t0 = time.perf_counter()
    spark = host.start_spark(settings)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = WORKLOADS[args.workload](spark, work / "inputs", args.seed)
        gen_s = []
        for _ in range(GEN_REPEATS):
            t0 = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(gen_s)

        info = {
            "workload": args.workload, "seed": args.seed,
            "launch": {k: settings[k] for k in ("master", "shuffle_partitions", "env", "conf", "host")},
            "setup": {"session_s": session_s, "generate_s": gen_s},
        }
        if args.trace == 0:
            with rss.PeakSampler() as peak:
                res = measure(wl, args.seconds, around_run=peak.sampling)
            values = {
                "run_s": statistics.median(res["samples"]),
                "setup_s": setup_s,
                "peak_rss_mb": peak.peak_bytes / 1e6,
            }
            info["rss_samples"] = peak.samples
        else:
            tracer = tracing.Tracer(spark.sparkContext)
            tracer.install()
            per_iter, dumps = [], []

            def on_traced():
                m, records = traced_iteration_metrics(wl, tracer)
                per_iter.append(m)
                dumps.append(records)

            res = measure(wl, args.seconds, tracer, on_traced)
            tracer.uninstall()
            values = {
                k: statistics.median(m[k] for m in per_iter) for k in per_iter[0]
            }
            trace_file = work.parent / f"trace-{args.workload}-s{args.seed}.jsonl"
            with open(trace_file, "w") as f:
                for i, records in enumerate(dumps):
                    for r in records:
                        f.write(json.dumps({"iteration": i, **r}) + "\n")
            info["trace_file"] = str(trace_file.relative_to(ROOT))
    finally:
        host.stop_spark(spark)

    samples = res["samples"]
    info.update({
        "run_s_samples": samples, "n": len(samples), "run_s_max": max(samples),
        "failed_ratio": len(res["failures"]) / res["attempted"],
        "failures": res["failures"][:20],
    })
    kind = "end_to_end" if args.trace == 0 else "per_layer"
    print("perfbench " + json.dumps(info, default=str))
    print(json.dumps(result(spec[kind], values, res)))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
