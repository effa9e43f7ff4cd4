"""Stage 4 — graph materialization: nodes / edges / names tables.

The columnar inversion of zelph's pointer graph (SURVEY.md §1.6): the two
adjacency maps (``network.hpp:760-761``) become one ``edges`` DataFrame with
64-bit node-id columns; hash-consed fact nodes (``network.hpp:474-483``)
become a deterministic ``fact_id = xxhash64(pred, subj, obj)`` column; the
per-language name maps (``zelph.hpp:43-44``) become a joinable ``names``
table; and zelph's once-per-property auto-typing ``(P ~ ->)``
(``wikidata.cpp:808-814``) becomes a distinct-preds union.

Physical layout for scale: ``edges`` is written partitioned by
``pred_bucket = pmod(xxhash64(pred), N_PRED_BUCKETS)`` — the Iceberg
bucket-partitioning analog of zelph's per-predicate index
(``zelph_impl.hpp:90-104``): any per-predicate scan (closure loops, rule
conditions with a constant predicate) prunes to one bucket at planning time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import config
from .session import literal

N_PRED_BUCKETS = 32

WIKIDATA_LANG = "wikidata"


def nid(col):
    """node id for a wikidata-named node (string QID/PID -> int64)."""
    return config.node_id(col, F.lit(WIKIDATA_LANG))


def name_ids(names: DataFrame) -> dict[str, int]:
    """``{name: nid(name)}`` of a literal ``names`` table, evaluated on the
    driver: the projection folds into the LocalRelation, so no Spark job."""
    return dict(names.select("name", nid(F.col("name"))).collect())


def build_edges(triples: DataFrame) -> DataFrame:
    """(subj, pred, obj [, prob] [, src_doc]) string triples -> long-id edge
    table with fact ids and bucket column. Idempotent by construction
    (dropDuplicates on the triple = hash-consing, zelph.cpp:650-660)."""
    prob = F.col("prob") if "prob" in triples.columns else F.lit(None).cast("double")
    # prob-aware dedup: a triple asserted both trusted (prob null = certain)
    # and scored keeps the highest effective probability, with null restored
    # for certainty — deterministic, unlike an arbitrary dropDuplicates pick
    pmax = F.max(F.coalesce("prob", F.lit(1.0)))
    e = (
        triples.select(
            nid(F.col("subj")).alias("subj"),
            nid(F.col("pred")).alias("pred"),
            nid(F.col("obj")).alias("obj"),
            prob.alias("prob"),
        )
        .groupBy("subj", "pred", "obj")
        .agg(F.when(pmax < 1.0, pmax).alias("prob"))
    )
    return e.select(
        config.fact_id(F.col("subj"), F.col("pred"), F.col("obj")).alias("fact_id"),
        "subj",
        "pred",
        "obj",
        "prob",
        F.pmod(F.xxhash64("pred"), F.lit(N_PRED_BUCKETS)).alias("pred_bucket"),
    )


def auto_type_predicates(triples: DataFrame) -> DataFrame:
    """Every used predicate is declared ``(P ~ RelationTypeCategory)``
    (wikidata.cpp:808-814, zelph.cpp:495-498) — returned as extra string
    triples to union before build_edges."""
    return triples.select("pred").distinct().select(
        F.col("pred").alias("subj"),
        F.lit(config.WD[config.IS_A]).alias("pred"),
        F.lit(config.WD[config.RELATION_TYPE]).alias("obj"),
    )


def build_names(
    triples: DataFrame, labels: DataFrame, extra_names: DataFrame | None = None
) -> DataFrame:
    """names(node long, lang string, name string): every node keeps its
    wikidata-lang QID name; label rows add the ``en`` names.

    ``extra_names`` (one ``name`` string column, e.g. rule constants that may
    not appear in any triple) rides the SAME distinct as the role
    projections — keeping the table duplicate-free costs one dedup shuffle
    total, not a second full-table pass after a tiny union. The two output
    branches cannot collide with each other (disjoint ``lang`` values), so
    no outer dedup is needed."""
    pool = (
        triples.select(F.col("subj").alias("name"))
        .union(triples.select("pred"))
        .union(triples.select("obj"))
    )
    if extra_names is not None:
        pool = pool.union(extra_names.select(F.col("name")))
    qids = pool.distinct().select(
        nid(F.col("name")).alias("node"),
        F.lit(WIKIDATA_LANG).alias("lang"),
        "name",
    )
    en = labels.select(
        nid(F.col("node")).alias("node"), "lang", "name"
    ).dropDuplicates(["node", "lang", "name"])
    return qids.unionByName(en)


def build_nodes(edges: DataFrame) -> DataFrame:
    """nodes(node long, kind string): kind='predicate' for ids seen in the
    pred role (the RelationTypeCategory typing), else 'entity'."""
    preds = edges.select(F.col("pred").alias("node")).distinct()
    ends = (
        edges.select(F.col("subj").alias("node"))
        .union(edges.select(F.col("obj").alias("node")))
        .distinct()
    )
    entities = ends.join(preds, "node", "left_anti").withColumn(
        "kind", F.lit("entity")
    )
    return preds.withColumn("kind", F.lit("predicate")).unionByName(entities)


def ids_to_qids(triples: DataFrame, names: DataFrame) -> DataFrame:
    """Long-id (subj, pred, obj) -> wikidata-name string triples: three
    dimension joins against the names table (lang='wikidata'). The inverse of
    the nid() hashing — used to surface reasoning results computed in 8-byte
    id space back as QID strings. Extra columns pass through."""
    idname = names.filter(F.col("lang") == WIKIDATA_LANG).select(
        "node", "name"
    ).dropDuplicates(["node"])
    out = triples
    for role in ("subj", "pred", "obj"):
        m = idname.select(
            F.col("node").alias(f"_{role}_id"),
            F.col("name").alias(f"_{role}_name"),
        )
        out = (
            out.join(m, out[role] == m[f"_{role}_id"], "left")
            .withColumn(role, F.col(f"_{role}_name"))
            .drop(f"_{role}_id", f"_{role}_name")
        )
    return out


def edges_for_pred(edges: DataFrame, pred_name: str) -> DataFrame:
    """Per-predicate slice with bucket pruning — the per-predicate index
    analog (zelph_impl.hpp:90-104): both the bucket filter (partition
    pruning on disk) and the id filter push down to the scan."""
    pid_df = literal(edges.sparkSession, [(pred_name,)], "p string").select(nid(F.col("p")).alias("pid"), F.pmod(F.xxhash64(nid(F.col("p"))), F.lit(N_PRED_BUCKETS)).alias("bucket"))
    row = pid_df.first()
    out = edges
    if "pred_bucket" in edges.columns:
        out = out.filter(F.col("pred_bucket") == row.bucket)
    return out.filter(F.col("pred") == row.pid)
