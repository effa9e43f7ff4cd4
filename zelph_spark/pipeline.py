"""End-to-end KG-construction pipeline (BASELINE.json north_rule):

    documents -> extract -> link -> canonicalize -> materialize -> reason

Each stage commits to the StageStore before the next starts, so a killed run
resumes mid-pipeline (resume test: tests/test_pipeline.py). The reference
analog is the whole ``.load`` + ``.run`` lifecycle (SURVEY.md §3.2/§3.4) —
one Spark job chain instead of a 4-thread importer + shared-memory fixpoint.

Probability flow (``reasoning_deduce.cpp:256-261`` confidence -> fact
probability; ``network.hpp:241-254`` reconciliation on merge): linked facts
carry their ranking score as ``prob``; extracted/base facts are trusted
(prob null = certain). Canonicalization reconciles collapsed duplicates —
both >= 0.5 keeps max, both <= 0.5 keeps min, strictly mixed rows become
``prob_conflicts`` (the distributed form of the reference's merge exception)
and are excluded from the canonical edge set.

Reasoning runs in **long-id space** over the materialized edge table
(8-byte join keys instead of variable-length strings at every fixpoint
shuffle — the scale path): rule constants are resolved to node ids with the
same deterministic hash as the edge builder, and the saturated result is
surfaced back as QID strings through the names table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import canon, extract, graph, link, rules as Rz
from .checkpoint import StageStore, run_stage
from .reasoning import contradiction_sweep, run_fixpoint


@dataclass
class PipelineResult:
    extracted: DataFrame
    triples: DataFrame  # canonical string triples (subj, pred, obj, prob)
    links: DataFrame
    merge_map: DataFrame
    prob_conflicts: DataFrame  # strictly-mixed probability collapses
    edges: DataFrame  # long-id materialized edge table (prob carried)
    names: DataFrame
    nodes: DataFrame
    saturated_ids: DataFrame  # long-id (subj, pred, obj) at fixpoint
    saturated: DataFrame  # the same facts as QID strings (names join)
    deduced: DataFrame  # long-id deduced facts (saturated - edges)
    contradictions: DataFrame  # (rule_id, bindings) — binding values are ids
    counters: dict


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    store_root: str | None = None,
    dictionary: DataFrame | None = None,
    reason: bool = True,
    link_threshold: float = 0.1,
    constraint_rules: list | None = None,
) -> PipelineResult:
    """``constraint_rules``: extra contradiction Rules (e.g. compiled from a
    P2302 statements table by ``statements.constraint_rules``) swept together
    with the wikidata.zph contradiction set — S5 first-class in the e2e path
    (wikidata.cpp:401-547)."""
    import time as _time

    store = StageStore(store_root) if store_root else None
    stage_secs: dict[str, float] = {}

    def stage(name, compute, partition_by=None):
        t0 = _time.time()
        try:
            if store is None:
                return compute().localCheckpoint()
            return run_stage(
                store, spark, name, compute, partition_by=partition_by
            )
        finally:
            stage_secs[name] = round(_time.time() - t0, 2)

    # 1. extraction (one pass; media spans untouched by construction)
    extracted = stage("extracted", lambda: extract.extract_all(docs))
    t = extract.triples(extracted)
    labels = extract.labels(extracted)

    # 2. linking against the broadcast dictionary (derived from labels if
    #    none provided — the self-linking shape used by benches)
    if dictionary is None:
        dictionary = labels.select(
            F.lower("name").alias("surface"),
            F.col("node").alias("qid"),
            F.lit("en").alias("lang"),
            F.lit(0.9).alias("prior"),
        )
    links = stage(
        "links",
        lambda: link.link_mentions(
            extract.mentions(extracted), dictionary, threshold=link_threshold
        ),
    )
    link_triples = link.links_to_triples(links)

    # 3. canonicalization: explicit same-as claims + name-collision merges.
    #    Trusted facts carry prob null (= certain); linked facts keep their
    #    ranking score so reconciliation runs on real probabilities.
    no_prob = F.lit(None).cast("double").alias("prob")
    base_facts = spark.createDataFrame(
        Rz.BASE_FACTS, "subj string, pred string, obj string"
    )
    all_triples = (
        t.select("subj", "pred", "obj", no_prob)
        .unionByName(link_triples.select("subj", "pred", "obj", "prob"))
        .unionByName(base_facts.select("subj", "pred", "obj", no_prob))
    )
    pairs = canon.sameas_pairs_from_triples(t).unionByName(
        canon.name_conflict_pairs(
            labels.select(F.col("node"), "lang", "name")
        ).select(F.col("a"), F.col("b"))
    )
    merge_map = stage("merge_map", lambda: canon.merge_map_from_pairs(pairs))

    def relabel_both():
        # ONE relabel computation feeding ONE checkpoint write: resolved
        # rows and conflict rows land together, flagged, and are split by
        # filter on the re-read — the 3-join relabel plan executes once.
        resolved, conflicts = canon.relabel_edges(all_triples, merge_map)
        return resolved.withColumn("is_conflict", F.lit(False)).unionByName(
            conflicts.select(
                "subj", "pred", "obj", no_prob, F.lit(True).alias("is_conflict")
            )
        )

    relabeled = stage("canon_triples", relabel_both)
    canon_triples_df = relabeled.filter(~F.col("is_conflict")).drop("is_conflict")
    prob_conflicts = relabeled.filter(F.col("is_conflict")).select(
        "subj", "pred", "obj"
    )

    # 4. graph materialization (long ids, pred-bucket partitioning).
    #    Auto-typing (wikidata.cpp:808-814) happens at import time in the
    #    reference, i.e. BEFORE reasoning — so with_types is also the
    #    reasoning input below.
    with_types = canon_triples_df.unionByName(
        graph.auto_type_predicates(canon_triples_df).select(
            "subj", "pred", "obj", no_prob
        )
    )
    edges = stage(
        "edges", lambda: graph.build_edges(with_types), partition_by=["pred_bucket"]
    )

    # rule-constant id resolution (tiny: ~20 constants, one collect) — the
    # same deterministic hash build_edges uses, so rule ids and data ids meet
    rules_pos = Rz.wikidata_rules()
    rules_con = Rz.wikidata_contradiction_rules() + list(constraint_rules or [])
    consts = sorted(Rz.rule_constants(rules_pos + rules_con))
    consts_df = spark.createDataFrame([(c,) for c in consts], "name string")
    cmap = {
        r.name: r.node
        for r in consts_df.select(
            "name", graph.nid(F.col("name")).alias("node")
        ).collect()
    }
    # rule-constant names ride build_names' single dedup (extra_names) —
    # no second full-table dropDuplicates after the union. relabel_column
    # may collapse two labelled nodes onto one canon; build_names' en-side
    # dedup owns that case.
    names = stage(
        "names",
        lambda: graph.build_names(
            with_types,
            canon.relabel_column(labels, "node", merge_map),
            extra_names=consts_df,
        ),
    )
    nodes = graph.build_nodes(edges)

    # 5. reasoning to fixpoint + contradiction sweep — in long-id space.
    # Probability semantics (reference-verified, reasoning_deduce.cpp:244-292):
    # unification ignores probs — sub-0.5 facts feed rules like trusted ones,
    # so the fixpoint input keeps EVERY triple — but re-deducing a known-wrong
    # fact (prob < 0.5) is a contradiction, not a deduction.
    counters: dict = {}
    id_edges = edges.select("subj", "pred", "obj")
    known_wrong = (
        edges.filter(F.col("prob") < 0.5).select("subj", "pred", "obj")
        if "prob" in edges.columns
        else None
    )
    if reason:
        long_rules = Rz.resolve_rules(rules_pos, cmap)
        long_contras = Rz.resolve_rules(rules_con, cmap)
        if store is not None and store.complete("saturated"):
            # resume: the fixpoint driver loop is eager — skip it entirely
            # when the saturated stage already committed
            saturated_ids = store.read(spark, "saturated")
            deduced = saturated_ids.join(
                id_edges, on=["subj", "pred", "obj"], how="left_anti"
            )
            contradictions = contradiction_sweep(
                saturated_ids, long_rules, long_contras, known_wrong
            )
            counters["resumed_reasoning"] = True
        else:
            fp = run_fixpoint(
                id_edges, long_rules, contradiction_rules=long_contras,
                wrong_facts=known_wrong,
            )
            saturated_ids = (
                stage("saturated", lambda: fp.edges) if store else fp.edges
            )
            deduced, contradictions = fp.deduced, fp.contradictions
            counters.update(
                {"fixpoint_iterations": fp.iterations, "deduced": fp.n_deduced,
                 "fixpoint_log": fp.log}
            )
        saturated = graph.ids_to_qids(saturated_ids, names)
    else:
        saturated_ids = id_edges
        saturated = with_types.select("subj", "pred", "obj")
        deduced = id_edges.limit(0)
        contradictions = spark.createDataFrame(
            [], "rule_id string, bindings map<string,string>"
        )

    counters["stage_secs"] = stage_secs
    return PipelineResult(
        extracted=extracted,
        triples=canon_triples_df,
        links=links,
        merge_map=merge_map,
        prob_conflicts=prob_conflicts,
        edges=edges,
        names=names,
        nodes=nodes,
        saturated_ids=saturated_ids,
        saturated=saturated,
        deduced=deduced,
        contradictions=contradictions,
        counters=counters,
    )
