"""Hub-skew demonstration (O15, VERDICT r3 item 4).

The reference's own warning (`unification.cpp:713-717`): a rule condition
anchored on a high-cardinality relation like P31 (~15M facts, one object
holding a huge share of instance edges) is catastrophic for a full-relation
snapshot.  The Spark engine's equivalent hazard is the fused pair join
(`fused.py:232` — shuffle key = the shared variable's value): when one
class object holds ~50% of all P31 edges, one shuffle partition receives
half the relation.

This script builds exactly that corpus — N instance edges with a single
hub object taking ``--hub-share`` of them plus a flat P279 layer — and
runs the taxonomy rule's round-1 join (delta == full extent, ABOVE the
fixpoint's 2M-row broadcast cap, so the shuffle path is exercised, fixpoint
.py:403-408) three ways:

  1. AQE skew-join ON, factor 2 (engine posture for hub-heavy loads)
  2. AQE skew-join ON, stock factor 5 ("aqe_default")
  3. AQE skew-join OFF (what a naive shuffle would do)
  4. explicit salting of the hot key (the manual fallback the verdict asks
     us to have on the shelf)

and reports wall time per mode plus the executed-plan evidence that AQE
actually split the skewed partition (``skew=true`` on the join node).

Threshold notes (both matter, measured here):
- AQE's byte threshold default (256 MB) is sized for real-cluster
  partitions; at sandbox scale the COMPRESSED hub partition is ~1-2 MB
  (measured: 2M hub rows -> 1.7 MB; constant columns compress to nothing),
  so --skew-threshold-kb scales it down to reproduce the same geometry (at
  100 TB the hub partition is tens of GB and the default triggers).
- Detection is on COMPRESSED shuffle bytes, and the hub partition
  compresses better than uniform partitions (its join key is one repeated
  value): a ~9x row skew measures only ~2x in bytes, UNDER the stock
  factor 5.  This is scale-independent — hence the engine posture of
  factor 2 for hub-heavy stages, with explicit salting as the fallback.
Run:  python tools/skew_demo.py --rows 4000000
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from zelph_spark.session import get_spark
from zelph_spark.reasoning.fused import fuse_rules, fire_fused
from zelph_spark.rules import R, P


TAXONOMY = R(
    "taxonomy",
    [P("?A", "P31", "?C"), P("?C", "P279", "?D")],
    [P("?A", "P31", "?D")],
)


def skewed_edges(spark, n_rows: int, hub_share: float, n_classes: int):
    """``n_rows`` instance edges (Qi P31 class) where ``hub_share`` of them
    point at ONE hub class (Q_HUB), the rest uniform over ``n_classes``
    classes; plus one P279 edge per class to a common parent layer.
    Deterministic, generated distributed (no driver-side rows)."""
    base = spark.range(n_rows)
    inst = base.select(
        F.concat(F.lit("Q"), (F.col("id") + 1_000_000)).alias("subj"),
        F.lit("P31").alias("pred"),
        F.when(
            F.pmod(F.hash(F.col("id"), F.lit(7)), F.lit(1000))
            < int(hub_share * 1000),
            F.lit("QHUB"),
        )
        .otherwise(
            F.concat(
                F.lit("QC"),
                F.pmod(F.hash(F.col("id"), F.lit(13)), F.lit(n_classes)),
            )
        )
        .alias("obj"),
    )
    classes = spark.range(n_classes).select(
        F.concat(F.lit("QC"), F.col("id")).alias("subj"),
        F.lit("P279").alias("pred"),
        F.concat(F.lit("QP"), F.pmod(F.col("id"), F.lit(50))).alias("obj"),
    )
    hub = spark.createDataFrame(
        [("QHUB", "P279", "QP0")], "subj string, pred string, obj string"
    )
    return inst.unionByName(classes).unionByName(hub)


def run_round(edges, groups, salt_buckets: int | None = None):
    """One semi-naive round-1 firing (delta == full, no broadcast hint —
    the >2M-row path).  With ``salt_buckets`` the hot side is salted and
    the small side exploded, the classic manual skew fix."""
    if salt_buckets is None:
        # classic full pass: ONE pair-shape join over (full, full) — the
        # same join a >2M-row semi-naive round takes (no broadcast delta)
        outs = fire_fused(groups, edges)
        assert len(outs) == 1
        out = outs[0]
    else:
        # salt by hand: split the hot (P31, key=obj) side into salt_buckets
        # sub-keys; EXPLODE the small (P279, key=subj) side across every
        # salt value — no extra join, stays whole-stage-codegen
        e1 = edges.filter(F.col("pred") == "P31").withColumn(
            "salt", F.pmod(F.hash("subj"), F.lit(salt_buckets))
        )
        e2 = edges.filter(F.col("pred") == "P279").withColumn(
            "salt",
            F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
        )
        out = e1.alias("a").join(
            e2.alias("b"),
            (F.col("a.obj") == F.col("b.subj"))
            & (F.col("a.salt") == F.col("b.salt")),
        ).select(
            F.col("a.subj").alias("subj"),
            F.lit("P31").alias("pred"),
            F.col("b.obj").alias("obj"),
        )
    # count through a DF we keep a handle on, so the inspected
    # QueryExecution is the one that actually ran (isFinalPlan=true)
    agg = out.agg(F.count(F.lit(1)).alias("n"))
    t0 = time.time()
    n = agg.collect()[0]["n"]
    dt = time.time() - t0
    jvm = out.sparkSession._jvm
    plan = agg._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return n, dt, plan


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--hub-share", type=float, default=0.5)
    ap.add_argument("--classes", type=int, default=10_000)
    ap.add_argument("--skew-threshold-kb", type=int, default=1024)
    ap.add_argument("--skew-factor", type=float, default=2.0)
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--salt-buckets", type=int, default=32)
    args = ap.parse_args()

    spark = get_spark(
        master=f"local[{args.cpus}]",
        extra_conf={
            "spark.driver.memory": "24g",
            # scale AQE's byte thresholds to sandbox partition sizes (see
            # module docstring); factor stays at the default 5
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                f"{args.skew_threshold_kb}k",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes":
                f"{args.skew_threshold_kb // 2}k",
            # force the shuffle path: the demo is about the >2M-row round
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    edges = skewed_edges(spark, args.rows, args.hub_share, args.classes)
    edges = edges.localCheckpoint()  # pin input; exclude datagen from timing
    hub_n = edges.filter(F.col("obj") == "QHUB").count()
    groups = fuse_rules([TAXONOMY])

    # row-level skew of the join's shuffle key (obj), exactly as
    # HashPartitioning assigns reduce partitions
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    dist = (
        edges.groupBy(F.pmod(F.hash("obj"), F.lit(nparts)).alias("p"))
        .count()
        .orderBy(F.desc("count"))
        .limit(3)
        .collect()
    )
    report = {
        "rows": args.rows,
        "hub_share_actual": round(hub_n / args.rows, 4),
        "cpus": args.cpus,
        "shuffle_partitions": nparts,
        "top_partition_rows": [r["count"] for r in dist],
        "skew_threshold_kb": args.skew_threshold_kb,
        "skew_factor": args.skew_factor,
        "modes": {},
    }

    # JIT/codegen warmup so the first measured mode is not penalized
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    run_round(edges, groups)

    # aqe_default: stock detection geometry (factor 5) at the scaled byte
    # threshold — documents whether byte-compression of the repeated hub
    # key deflates the skew below the default factor (it does: ~30x row
    # skew measures only ~4x in compressed shuffle bytes)
    for mode in ("aqe_skew_on", "aqe_default", "aqe_skew_off", "salted"):
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled",
            "false" if mode in ("aqe_skew_off", "salted") else "true",
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "5.0" if mode == "aqe_default" else str(args.skew_factor),
        )
        n, dt, plan = min(
            (
                run_round(
                    edges,
                    groups,
                    salt_buckets=args.salt_buckets
                    if mode == "salted"
                    else None,
                )
                for _ in range(2)
            ),
            key=lambda t: t[1],
        )
        skew_marks = plan.count("skew=true")
        report["modes"][mode] = {
            "deduced_rows": n,
            "sec": round(dt, 2),
            "plan_skew_nodes": skew_marks,
        }
        print(
            f"[{mode}] rows={n} sec={dt:.2f} skew-split nodes={skew_marks}",
            file=sys.stderr,
        )
        Path(f"/tmp/skew_plan_{mode}.txt").write_text(plan)

    print(json.dumps(report))


if __name__ == "__main__":
    main()
