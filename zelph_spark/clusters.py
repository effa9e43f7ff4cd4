"""Clusters — named provenance workspaces (``network.hpp:675-755``,
``zelph_maintenance.cpp:150-181``; tests ``test_clusters.cpp:32-86``).

In the reference, an active cluster records the ids of nodes CREATED while
it is active (sequential nodes and the relation nodes materialized by
``fact()``); facts that already existed are never recorded, so dropping a
cluster can never destroy pre-existing knowledge.  ``drop_cluster`` removes
every recorded node *including all of their edges and names*;
``merge_cluster(from, "")`` keeps the facts and forgets the membership.

Spark mapping (SURVEY.md §1.6): a nullable ``cluster`` lineage column on
the edges table — NULL means the default workspace — plus an explicit
``(cluster, node)`` MEMBERSHIP table recorded at assert time, the analog of
the reference's creation-time side table (network.hpp:682-684).  A node is
recorded iff it did not exist anywhere before the batch (never-re-record,
network.hpp:679-681), and ``drop_cluster`` removes recorded nodes with ALL
their edges — including facts asserted LATER outside the workspace that
reference them, exactly as ``remove_node`` does (zelph_maintenance.cpp:
162-181; pinned against the compiled reference binary in
tests/test_reference_oracle.py, where the dangling fact node the reference
leaves behind decodes as a degenerate self-fact — the relational model
drops the row outright).  All operators are pure relational transforms
returning the next table snapshots; on a cluster deployment each is an
Iceberg ``DELETE WHERE``/``MERGE`` over the partitioned tables, so dropping
a multi-billion-row workspace is one metadata-heavy anti-join, not a
mutation loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .session import literal

EDGE_COLS = ["subj", "pred", "obj"]


def _with_cluster(df: DataFrame) -> DataFrame:
    return (
        df
        if "cluster" in df.columns
        else df.withColumn("cluster", F.lit(None).cast("string"))
    )


def _touched_nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("subj").alias("node"))
        .union(edges.select(F.col("pred").alias("node")))
        .union(edges.select(F.col("obj").alias("node")))
        .distinct()
    )


def empty_membership(spark) -> DataFrame:
    """A fresh ``(cluster, node)`` membership table."""
    return literal(spark, [], "cluster string, node string")


def assert_batch(
    edges: DataFrame | None,
    new_edges: DataFrame,
    cluster: str | None = None,
    membership: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Assert a batch of triples while ``cluster`` is the active workspace
    (``set_active_cluster`` + ``fact()``).  Triples that already exist keep
    their original lineage (pre-existing facts are never recorded,
    network.hpp:679-681 / test_clusters.cpp:71-86); genuinely new triples
    land with ``cluster`` as their lineage, and node ids that did not exist
    anywhere before the batch are recorded in the membership table —
    creation-time recording, the only moment the information exists
    (ADVICE r3: deriving membership at drop time loses nodes referenced by
    later outside facts).  ``edges=None`` starts from an empty edge table.
    Returns ``(edges', membership')``."""
    if edges is None:
        edges = literal(new_edges.sparkSession, [], new_edges.select(*EDGE_COLS).schema)
    if membership is None:
        membership = empty_membership(new_edges.sparkSession)
    edges = _with_cluster(edges)
    fresh = (
        new_edges.select(*EDGE_COLS)
        .dropDuplicates(EDGE_COLS)
        .join(edges, on=EDGE_COLS, how="left_anti")
        .withColumn("cluster", F.lit(cluster).cast("string"))
        # [r6] the batch delta is materialized once: it fans out into the
        # returned edge union, the created-node membership derivation and
        # every LATER batch's anti-join — as a lazy plan each of those
        # consumers re-ran this batch's dedup + anti-join (and,
        # transitively, every earlier batch's), so a 3-batch chain paid
        # the first batch ~5x. The delta is the small side by construction.
        .localCheckpoint()
    )
    if cluster is not None:
        created = _touched_nodes(fresh).join(
            _touched_nodes(edges), on="node", how="left_anti"
        )
        membership = membership.unionByName(
            created.select(F.lit(cluster).alias("cluster"), "node")
        ).dropDuplicates(["cluster", "node"])
    extra = [c for c in edges.columns if c not in EDGE_COLS + ["cluster"]]
    for c in extra:
        fresh = fresh.withColumn(c, F.lit(None))
    return edges.unionByName(fresh, allowMissingColumns=True), membership


def cluster_nodes(membership: DataFrame, cluster: str) -> DataFrame:
    """The node ids a cluster recorded at creation time (the reference's
    ``take_cluster`` view).  One-column DF named ``node``."""
    return membership.filter(F.col("cluster") == cluster).select("node")


def list_clusters(edges: DataFrame) -> DataFrame:
    """(cluster, n_facts) rows for every named workspace
    (``list_clusters``)."""
    edges = _with_cluster(edges)
    return (
        edges.filter(F.col("cluster").isNotNull())
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_facts"))
    )


def drop_cluster(
    edges: DataFrame,
    name: str,
    names: DataFrame | None = None,
    membership: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
    """Destructive drop (``Zelph::drop_cluster``,
    zelph_maintenance.cpp:162-181): remove the cluster's fact rows (its
    fact NODES in the reference) and every recorded node with ALL its
    edges — including facts asserted later outside the workspace that
    reference a recorded node (reference-binary parity:
    test_reference_oracle.py drop-cluster case) — plus recorded nodes'
    name rows.  Pre-existing knowledge survives by construction: the
    cluster never recorded it.  Returns (edges', names', membership')."""
    from .maintenance import remove_nodes

    if membership is None:
        # Without the assert-time membership table the recorded-node set is
        # unknowable (it is NOT derivable from the surviving edges — drops
        # must also kill later outside facts referencing recorded nodes).
        # Silently treating it as empty would be reference-divergent.
        raise ValueError(
            "drop_cluster requires the assert-time membership table "
            "(see record_membership); got membership=None"
        )
    edges = _with_cluster(edges)
    doomed = cluster_nodes(membership, name)
    kept = remove_nodes(
        edges.filter(
            F.col("cluster").isNull() | (F.col("cluster") != name)
        ),
        doomed,
    )
    kept_membership = membership.filter(F.col("cluster") != name)
    if names is None:
        return kept, None, kept_membership
    kept_names = names.join(
        doomed.withColumnRenamed("node", "_dn"),
        names["node"] == F.col("_dn"),
        "left_anti",
    )
    return kept, kept_names, kept_membership


def merge_cluster(
    edges: DataFrame,
    from_cluster: str,
    to_cluster: str | None = None,
    membership: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """``merge_cluster(from, to)``: relabel the workspace's facts and
    membership rows (set union, network.hpp:737-749); ``to_cluster=None``
    merges into the default workspace — the facts stay, the membership is
    forgotten (test_clusters.cpp:54-69).  No edges are touched in either
    case.  Returns (edges', membership')."""
    edges = _with_cluster(edges)
    out = edges.withColumn(
        "cluster",
        F.when(
            F.col("cluster") == from_cluster,
            F.lit(to_cluster).cast("string"),
        ).otherwise(F.col("cluster")),
    )
    if membership is None:
        return out, None
    if to_cluster is None:
        membership = membership.filter(F.col("cluster") != from_cluster)
    else:
        membership = membership.withColumn(
            "cluster",
            F.when(
                F.col("cluster") == from_cluster, F.lit(to_cluster)
            ).otherwise(F.col("cluster")),
        ).dropDuplicates(["cluster", "node"])
    return out, membership
