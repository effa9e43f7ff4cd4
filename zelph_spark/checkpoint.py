"""Per-stage checkpointing with lineage counters and resume.

The resumability contract (BASELINE.json north_rule): each pipeline stage
writes its output table plus a manifest (row count, per-file counters,
schema) before the next stage starts; a killed run re-executes only the
stages whose manifest is missing. This is the parquet-backed stand-in for
Iceberg snapshot commits (SURVEY.md §2.1 S6/S7 — on a cluster the writer
becomes ``MERGE INTO``/snapshot per stage; manifests ≈ Iceberg's own
metadata, chunk selectors ≈ partition pruning). Writes are atomic: data
lands in ``<stage>.tmp`` and is renamed over only after the manifest is
serialized, mirroring the reference's write-then-commit chunked .bin cache
(``zelph_maintenance.cpp:120-133``).
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_zelph_manifest.json"


class StageStore:
    """Directory of stage tables: <root>/<stage>/ parquet + manifest."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _dir(self, stage: str) -> Path:
        return self.root / stage

    def complete(self, stage: str) -> bool:
        return (self._dir(stage) / MANIFEST).exists()

    def manifest(self, stage: str) -> dict:
        return json.loads((self._dir(stage) / MANIFEST).read_text())

    def write(
        self,
        df: DataFrame,
        stage: str,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Write df atomically with lineage counters; returns the written
        table so downstream lineage starts at the scan. ``partitions`` has
        one entry per written file (path, footer row count)."""
        final = self._dir(stage)
        tmp = self.root / f"{stage}.tmp"
        if tmp.exists():
            shutil.rmtree(tmp)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(tmp))
        # per-file lineage counters (north_rule: lineage + metrics) from
        # the footers, no job: Iceberg manifests count data files this way
        files = [
            {"file": str(f.relative_to(tmp)),
             "rows": pq.read_metadata(f).num_rows}
            for f in sorted(tmp.rglob("*.parquet"))
        ]
        # as a reader sees it (partition columns last), inferred once
        schema = df.sparkSession.read.parquet(str(tmp)).schema
        manifest = {
            "stage": stage,
            "rows": sum(f["rows"] for f in files),
            "partitions": files,
            "partition_by": partition_by or [],
            "schema": schema.jsonValue(),
            "written_at": time.time(),
        }
        (tmp / MANIFEST).write_text(json.dumps(manifest, indent=1))
        if final.exists():
            shutil.rmtree(final)
        tmp.rename(final)
        return df.sparkSession.read.schema(schema).parquet(str(final))

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(str(self._dir(stage)))

    def drop(self, stage: str) -> None:
        d = self._dir(stage)
        if d.exists():
            shutil.rmtree(d)


def run_stage(
    store: StageStore,
    spark: SparkSession,
    stage: str,
    compute,
    partition_by: list[str] | None = None,
    force: bool = False,
) -> DataFrame:
    """Resume-aware stage execution: if the stage manifest exists, load the
    table and skip ``compute`` (the killed-run resume path); otherwise run
    ``compute()`` and commit it."""
    if not force and store.complete(stage):
        return store.read(spark, stage)
    return store.write(compute(), stage, partition_by=partition_by)
