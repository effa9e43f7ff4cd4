"""Stage 3 — entity canonicalization via distributed connected components.

Replicates the *semantics* of zelph's merge machinery — ``Network::merge``
(``network.hpp:212-294``: transfer every edge from one node onto another,
reconcile probabilities, drop the source) and name-conflict merging in
``set_name(merge_on_conflict)`` (``zelph_names.cpp:63-179``) — as a
relational pipeline: build a ``merge_map(node -> canon)`` by connected
components over same-as pairs, then relabel the edge table with two hash
joins and re-deduplicate.

The components algorithm is alternating min-label propagation with pointer
jumping (label(n) <- label(label(n)) each round), the iterative hash-join
union-find pattern from the BTS line of work cited in SURVEY.md §2.2 F11:
O(log n) rounds, each round = one shuffle on node id, localCheckpoint per
round to cut lineage. At 100 TB the same-as pair set is tiny relative to the
edge table, so the expensive part is the final relabel joins — those hash on
subj/obj, and the merge_map side is broadcastable in all realistic cases.

Probability reconciliation on collapsed duplicate edges follows
``network.hpp:241-254`` exactly: both >= 0.5 -> max, both <= 0.5 -> min,
strictly mixed -> conflict (reference throws; we emit a conflicts DataFrame —
the distributed-friendly equivalent of the exception, same information).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from .session import literal
from .single_task import run_single_task


def _components_kernel(s, d, n):
    """Min-label components of a symmetric edge list over dense ids
    ``0..n-1``: returns each id's component label, the smallest id in its
    component. Under the runner's ``sort=True`` codes the smallest code is
    the smallest node id, so the labels map straight back to the
    distributed loop's min-value representative.
    """
    import numpy as np

    labels = np.arange(n, dtype=np.int64)
    while True:  # terminates: labels decrease monotonically per pass
        old = labels.copy()
        # propagate the smaller label across every (symmetric) edge
        np.minimum.at(labels, s, labels[d])
        # pointer-jump to a fixpoint: label <- label's label
        while True:
            nxt = labels[labels]
            if np.array_equal(nxt, labels):
                break
            labels = nxt
        if np.array_equal(labels, old):
            return labels


def connected_components(pairs: DataFrame) -> DataFrame:
    """pairs(a, b) -> (node, comp) where comp = min node id reachable.

    Works for any orderable id type (long or string). Pair sets that fit
    one task take the single-task kernel (:func:`_components_kernel` via
    :func:`zelph_spark.single_task.run_single_task`, guide §4.2): the
    O(log n)-round shuffle loop collapses into one numpy scatter-min label
    propagation. Past the runner's bounds the distributed loop converges in
    O(log n) rounds via min-propagation + pointer jumping (the pair set is
    tiny relative to the edge table at any scale, but the fallback keeps
    the 100TB posture). Python string order is code-point order and UTF-8
    byte order preserves code points, so the kernel's pandas order equals
    Spark's UTF8_BINARY min for string ids.
    """
    if pairs.isEmpty():
        t = pairs.schema["a"].dataType.simpleString()
        return literal(pairs.sparkSession, [], f"node {t}, comp {t}")
    sym = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    local, _ = run_single_task(
        [sym],
        lambda c, n: (range(n), _components_kernel(*c[0], n)),
        ["node", "comp"],
    )
    if local is not None:
        return local
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    while True:
        # min over neighbours' current labels
        nbr_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("comp").alias("nmin"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))
                ).alias("comp"),
            )
        )
        # pointer jumping: comp <- comp's comp
        l2 = new_labels.select(
            F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
        )
        jumped = new_labels.join(l2, new_labels.comp == l2.p_node, "left").select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("p_comp"), F.col("comp"))
            ).alias("comp"),
        )
        # convergence check rides the checkpoint job as an Observation
        # metric (same discipline as the fixpoint's delta write): joining
        # the old labels into the plan costs less than the extra
        # changed-count action per round it replaces
        old = labels.select(
            F.col("node").alias("o_node"), F.col("comp").alias("o_comp")
        )
        obs = Observation()
        labels = (
            jumped.join(old, jumped.node == old.o_node)
            .observe(
                obs,
                F.max(
                    (F.col("comp") != F.col("o_comp")).cast("int")
                ).alias("changed"),
            )
            .select("node", "comp")
            .localCheckpoint()
        )
        if not obs.get["changed"]:
            break
    return labels


def merge_map_from_pairs(pairs: DataFrame) -> DataFrame:
    """same-as pairs -> merge_map(node, canon), rows only where node != canon
    (canon = component minimum, mirroring merge-into-the-surviving-node)."""
    comp = connected_components(pairs)
    return comp.filter(F.col("node") != F.col("comp")).select(
        "node", F.col("comp").alias("canon")
    )


def name_conflict_pairs(names: DataFrame) -> DataFrame:
    """Same (lang, name) on two nodes -> same-as pair, zelph's
    merge_on_conflict trigger (``zelph_names.cpp:87-179``)."""
    # groupBy-min + join back rather than collect_set: a pathological shared
    # label (one name on millions of nodes) must not build a giant array in
    # one aggregation buffer — the join shape stays flat at any group size.
    mins = names.groupBy("lang", "name").agg(F.min("node").alias("a"))
    return (
        names.join(mins, on=["lang", "name"])
        .filter(F.col("node") != F.col("a"))
        .select("a", F.col("node").alias("b"))
        .distinct()
    )


def relabel_edges(
    edges: DataFrame, merge_map: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Apply merge_map to (subj, pred, obj [, prob]) edges; returns
    (canonical_edges, prob_conflicts).

    Two left joins + coalesce per role column, then the network.hpp:241-254
    probability reconciliation on rows that collapsed together. An empty
    merge map (common at scale: few merges) skips the three joins but keeps
    the dedup/reconciliation semantics.
    """
    out = edges
    if not merge_map.isEmpty():
        mm = F.broadcast(merge_map)
        for role in ("subj", "pred", "obj"):
            m = mm.select(
                F.col("node").alias(f"_{role}_old"),
                F.col("canon").alias(f"_{role}_new"),
            )
            out = (
                out.join(m, out[role] == m[f"_{role}_old"], "left")
                .withColumn(role, F.coalesce(f"_{role}_new", role))
                .drop(f"_{role}_old", f"_{role}_new")
            )
    if "prob" not in out.columns:
        empty = literal(edges.sparkSession, [], "subj string, pred string, obj string")
        return out.distinct(), empty
    merged = out.groupBy("subj", "pred", "obj").agg(
        F.min(F.coalesce("prob", F.lit(1.0))).alias("pmin"),
        F.max(F.coalesce("prob", F.lit(1.0))).alias("pmax"),
    )
    conflicts = merged.filter(
        (F.col("pmin") < 0.5) & (F.col("pmax") > 0.5)
    ).select("subj", "pred", "obj")
    resolved = merged.filter(
        ~((F.col("pmin") < 0.5) & (F.col("pmax") > 0.5))
    ).select(
        "subj",
        "pred",
        "obj",
        # reference branch order (network.hpp:241-254): both >= 0.5 -> max;
        # otherwise (both <= 0.5, incl. the pmin<0.5 & pmax==0.5 boundary,
        # which the <=0.5 branch owns) -> min. A reconciled 1.0 is certainty
        # and is stored as null (the trusted-fact convention).
        F.when(
            F.when(F.col("pmin") >= 0.5, F.col("pmax"))
            .otherwise(F.col("pmin")) < 1.0,
            F.when(F.col("pmin") >= 0.5, F.col("pmax"))
            .otherwise(F.col("pmin")),
        ).alias("prob"),
    )
    return resolved, conflicts


def relabel_column(df: DataFrame, col: str, merge_map: DataFrame) -> DataFrame:
    """Rewrite one id column through the merge map (names table, mention
    tables, ... — anything that references node ids)."""
    m = F.broadcast(merge_map).select(
        F.col("node").alias("_old"), F.col("canon").alias("_new")
    )
    return (
        df.join(m, df[col] == m["_old"], "left")
        .withColumn(col, F.coalesce("_new", col))
        .drop("_old", "_new")
    )


def sameas_pairs_from_triples(
    triples: DataFrame, sameas_pred: str = "P2888"
) -> DataFrame:
    """Explicit same-as assertions (P2888 exact-match style claims)."""
    return triples.filter(F.col("pred") == sameas_pred).select(
        F.col("subj").alias("a"), F.col("obj").alias("b")
    )
