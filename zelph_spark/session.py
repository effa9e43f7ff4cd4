"""SparkSession factory tuned for the KG-construction workload.

Defaults follow the scale posture in SURVEY.md §4: AQE on (runtime re-plan +
skew-join splitting for hub entities like P31), Arrow on (all Python-side
batch work goes through vectorized pandas UDFs), shuffle partitions sized to
the local core count rather than the 200 default. On a real cluster the same
builder is used via ``spark-submit --py-files``; only master/memory change.
"""

from __future__ import annotations

import os

import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _jvm_size(mem: str) -> str:
    """Normalize a Spark memory string to a JVM-legal -Xms token.

    Spark accepts suffixes the JVM rejects ('18gb', '2048mb', bare bytes);
    -Xms18gb would kill the driver launch. Accepts [0-9]+[kmgt]?b? in any
    case; anything else raises rather than producing a broken JVM flag.
    """
    m = re.fullmatch(r"\s*([0-9]+)\s*([kKmMgGtT]?)[bB]?\s*", mem)
    if not m:
        raise ValueError(f"unparseable memory size for -Xms: {mem!r}")
    return m.group(1) + m.group(2).lower()


def get_spark(
    app_name: str = "zelph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``*``)
    so the bench harness can run the identical job at two parallelism levels
    to evidence scaling efficiency (BASELINE.md targets).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    builder = SparkSession.builder
    if master != "submit":
        # master == "submit": trust the spark-submit launch context (the
        # cluster deployment path — spark-submit --master ... --py-files)
        builder = builder.master(master)
    # Fixed-size, pre-touched heap (-Xms=-Xmx + AlwaysPreTouch), default
    # 18g. Root-caused on this guest (BASELINE.md "heap sizing"): letting
    # G1 grow a 48g-max heap on demand (2G -> 46G committed while only
    # 6.5G was ever USED) turns the growth into a first-touch page-fault
    # storm inside the first allocation-heavy stage — /proc/stat showed
    # 50-86% SYSTEM time for ~2 minutes and a concurrent 10M-row probe
    # took 238s (vs 2-3s before/after): 32 threads faulting one address
    # space convoy on mmap_lock, and past ~20G the guest's fault path
    # collapses outright (bare-JVM pretouch: 8g=1s, 18g=5s, 48g>280s).
    # An 18g pre-touched heap pays ~5s once at session start and never
    # faults again; raise ZELPH_SPARK_DRIVER_MEM only with that cliff in
    # mind. extra_conf may override the driver memory, so the -Xms value
    # is derived after the merge.
    driver_mem = os.environ.get("ZELPH_SPARK_DRIVER_MEM", "18g")
    merged = dict(extra_conf or {})
    driver_mem = merged.get("spark.driver.memory", driver_mem)
    pretouch = f"-Xms{_jvm_size(driver_mem)} -XX:+AlwaysPreTouch"
    merged["spark.driver.extraJavaOptions"] = (
        pretouch + " " + merged["spark.driver.extraJavaOptions"]
        if "spark.driver.extraJavaOptions" in merged
        else pretouch
    )
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Stock skewedPartitionFactor (5.0) misses hub-key skew: detection
        # runs on COMPRESSED shuffle bytes, and a hub partition (one
        # repeated join key, e.g. P31->QHUB holding 50% of instance edges)
        # compresses ~7x better than uniform partitions, deflating a 30x
        # row skew to ~4x in bytes — under the stock factor. Measured in
        # tools/skew_demo.py (16M edges: split 3.67s vs missed 6.08s);
        # the byte THRESHOLD keeps its 256MB default, so only genuinely
        # large partitions are ever split at cluster scale.
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Input splits: the engine's scans feed PARSE-heavy stages (JSON
        # extraction over documents), where the default 128MB split yields
        # so few tasks that a stage runs in 1-2 straggler waves (measured on
        # the 8M-doc corpus: 1.2GB -> 11 splits -> extract scaled 1.74x on
        # a 2->8 core pair while every shuffle stage scaled 3.3-4.9x). 32MB
        # splits keep ~4 waves of CPU-bound work per executor; downstream
        # shuffle widths are AQE-coalesced so the only cost is task-launch
        # overhead, noise at any scale.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # scaling experiments: redirect shuffle/spill storage (e.g. to /dev/shm —
    # the sandbox stand-in for a cluster's per-executor local disks; the
    # single shared /tmp device otherwise serializes all executor I/O)
    local_dir = os.environ.get("ZELPH_SPARK_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("ZELPH_SPARK_PREWARM") == "1":
        _prewarm_python_workers(spark)
    return spark


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Spin up the Arrow/Python worker pool once at session start.

    The FIRST Pandas-UDF/mapInPandas job of a session forks one Python
    worker per core and each imports pandas+pyarrow and faults in ~100MB —
    on this guest that wave costs 5-40s depending on how much anonymous
    memory is already resident (measured: 4-12s after a 4-12g pre-touched
    heap, 14-40s after the default 18g one; recurrence after 75s worker
    idle is CHEAP, so the cost is once per JVM). On a real cluster this is
    executor warm-up, not query latency — benches and long-lived services
    set ZELPH_SPARK_PREWARM=1 so the first Arrow query isn't charged for
    it; default off so short-lived test sessions don't pay it up front."""
    n = spark.sparkContext.defaultParallelism
    (
        spark.range(0, n, 1, n)
        .mapInPandas(lambda it: it, schema="id long")
        .count()
    )


def literal(spark: SparkSession, rows, schema) -> DataFrame:
    """A literal relation (a handful of driver-side rows) whose size the
    optimizer knows. Every literal the engine builds goes through here.

    ``spark.createDataFrame(<list>, schema)`` is a ``LogicalRDD`` over a
    pickled Python RDD: its size estimate is ``spark.sql.defaultSizeInBytes``
    (Long.MaxValue), so no plan that reads it can broadcast and AQE plans
    sort-merge shuffles instead, and evaluating it is a Python-worker job.
    Here every literal, empty or not, is an Arrow table built column by
    column from the schema's fields, which becomes a ``LocalRelation`` sized
    rows x row width (0 when empty) that the driver evaluates without a
    job, whatever ``spark.sql.execution.arrow.pyspark.enabled`` says (an
    empty pandas frame would fall back to the ``LogicalRDD``). ``schema`` is
    a DDL string or a ``StructType``."""
    st = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    rows = list(rows)
    arrow = to_arrow_schema(st)
    cols = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow))


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
