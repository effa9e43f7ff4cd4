"""Host-fit Spark launch for the benchmark, and its orderly shutdown.

Every setting here is derived from the host or from the checkout, so the
parent and the child commit run under the same launch. ``launch_settings``
returns them as a dict that the benchmark prints with its result.

- ``local[nproc]`` with ``nproc`` shuffle partitions: one executor thread
  and one post-shuffle partition per core the process may use. The
  engine's own default of at least 8 partitions adds a second wave of
  near-empty tasks to every shuffle on a 4-core host.
- The driver heap is a quarter of physical memory, at most 2 GiB.
  ``get_spark`` defaults to an 18g heap, which does not fit a 15 GB host.
  It stays pre-touched (``get_spark`` adds AlwaysPreTouch), so the heap is
  a constant share of ``peak_rss_mb``: a heap that grew on demand made the
  peak swing by 20% between identical runs.
- Python workers get the checkout on ``PYTHONPATH``: launched anywhere but
  the repository root, every ``mapInPandas`` task otherwise fails with
  ``ModuleNotFoundError: zelph_spark``.
- Spark's local dir, the JVM's and Python's temp dirs and the SQL warehouse
  all live under the benchmark's work dir, so a run writes only inside its
  checkout. The JVM's perf-data file (``/tmp/hsperfdata_*``) is switched off
  for the same reason.
"""

from __future__ import annotations

import os
import signal
import sys
import time
from pathlib import Path

from . import rss

MAX_HEAP_MB = 2048


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def launch_settings(root: Path, work: Path) -> dict:
    """The launch, as data: environment for the driver and its workers,
    ``get_spark`` arguments and extra Spark conf."""
    heap_mb = min(MAX_HEAP_MB, mem_total_mb() // 4)
    tmp = work / "tmp"
    return {
        "master": f"local[{nproc()}]",
        "shuffle_partitions": nproc(),
        "env": {
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": str(tmp),
            # takes precedence over spark.local.dir in local mode
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "ZELPH_SPARK_PREWARM": "1",
            # every JVM, including spark-submit's launcher, which takes no
            # Spark conf
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
        "conf": {
            "spark.driver.memory": f"{heap_mb}m",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage of an iteration back
            # from the status store; the defaults (1000) drop older entries
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
        "host": {"nproc": nproc(), "mem_total_mb": mem_total_mb()},
    }


def start_spark(settings: dict):
    """Apply the environment, then start the session (JVM launch, context,
    Python-worker prewarm). The environment must be set before the gateway
    starts, because the JVM and its Python workers inherit it."""
    Path(settings["env"]["TMPDIR"]).mkdir(parents=True, exist_ok=True)
    os.environ.update(settings["env"])
    from zelph_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=settings["master"],
        shuffle_partitions=settings["shuffle_partitions"],
        extra_conf=settings["conf"],
    )


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_spark(spark, grace: float = 20.0) -> None:
    """Stop the context and the gateway JVM, then wait until every process
    started under this one has ended. The set is taken before the JVM goes,
    because the pyspark daemon and its workers are re-parented when it
    does. Processes still alive after ``grace`` seconds get SIGTERM, and
    SIGKILL after twice that."""
    from pyspark import SparkContext

    started = set(rss.descendants(os.getpid())) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=grace)
        except Exception:
            proc.kill()
            proc.wait()
    t0 = time.monotonic()
    while True:
        left = [p for p in started if _alive(p)]
        if not left:
            return
        waited = time.monotonic() - t0
        if waited > 3 * grace:
            raise RuntimeError(f"processes {sorted(left)} did not end")
        if waited > grace:
            sig = signal.SIGKILL if waited > 2 * grace else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)
