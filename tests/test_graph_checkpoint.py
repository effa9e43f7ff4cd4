"""Graph materialization + stage checkpoint/resume (SURVEY.md §7 M5)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from zelph_spark import config, datagen, extract, graph
from zelph_spark.checkpoint import StageStore, run_stage


@pytest.fixture(scope="module")
def string_triples(spark, fixture_docs_df):
    return extract.triples(extract.extract_all(fixture_docs_df)).cache()


def test_edges_ids_deterministic_and_deduped(spark, string_triples):
    e1 = graph.build_edges(string_triples)
    e2 = graph.build_edges(string_triples.union(string_triples))  # dup input
    assert e1.count() == e2.count()  # hash-consing idempotence
    r1 = {tuple(r) for r in e1.select("fact_id", "subj", "pred", "obj").collect()}
    r2 = {tuple(r) for r in e2.select("fact_id", "subj", "pred", "obj").collect()}
    assert r1 == r2
    # fact_id is the deterministic hash of (pred, subj, obj)
    row = e1.first()
    chk = spark.range(1).select(
        config.fact_id(F.lit(row.subj), F.lit(row.pred), F.lit(row.obj))
    ).first()[0]
    assert chk == row.fact_id


def test_auto_typing_and_nodes_kind(spark, string_triples):
    with_types = string_triples.select("subj", "pred", "obj").unionByName(
        graph.auto_type_predicates(string_triples)
    )
    edges = graph.build_edges(with_types)
    nodes = graph.build_nodes(edges)
    names = graph.build_names(with_types, spark.createDataFrame(
        datagen.fixture_golden_labels()))
    kinds = {
        r.name: next(
            k.kind for k in nodes.collect() if k.node == r.node
        )
        for r in names.filter(F.col("lang") == "wikidata").collect()
        if r.name in ("P31", "P279", "Q100", "Q5")
    }
    assert kinds["P31"] == "predicate"
    assert kinds["P279"] == "predicate"
    assert kinds["Q100"] == "entity"
    # every predicate got (P ~ RelationTypeCategory), wikidata.cpp:808-814
    isa = graph.nid(F.lit(config.WD[config.IS_A]))
    rtc = graph.nid(F.lit(config.WD[config.RELATION_TYPE]))
    typed = edges.filter(
        (F.col("pred") == spark.range(1).select(isa).first()[0])
        & (F.col("obj") == spark.range(1).select(rtc).first()[0])
    )
    n_preds = string_triples.select("pred").distinct().count()
    assert typed.count() >= n_preds


def test_edges_for_pred_prunes(spark, string_triples):
    edges = graph.build_edges(string_triples)
    sub = graph.edges_for_pred(edges, "P279")
    p279 = spark.range(1).select(graph.nid(F.lit("P279"))).first()[0]
    assert {r.pred for r in sub.collect()} == {p279}
    direct = edges.filter(F.col("pred") == p279).count()
    assert sub.count() == direct


def test_stage_store_resume(spark, string_triples, tmp_path):
    store = StageStore(tmp_path / "stages")
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return graph.build_edges(string_triples)

    e1 = run_stage(store, spark, "edges", compute, partition_by=["pred_bucket"])
    assert calls["n"] == 1
    assert store.complete("edges")
    man = store.manifest("edges")
    assert man["rows"] == e1.count()
    assert sum(p["rows"] for p in man["partitions"]) == man["rows"]
    # resume: compute must NOT run again, contents identical
    e2 = run_stage(store, spark, "edges", compute, partition_by=["pred_bucket"])
    assert calls["n"] == 1
    assert {tuple(r) for r in e1.select("fact_id").collect()} == {
        tuple(r) for r in e2.select("fact_id").collect()
    }
    # force re-run works
    run_stage(store, spark, "edges", compute, force=True)
    assert calls["n"] == 2


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("partition_by", [None, ["pred_bucket"]],
                         ids=["flat", "partitioned"])
def test_stage_commit_runs_one_job_beyond_the_write(
    spark, string_triples, tmp_path, partition_by
):
    """A commit runs the write's own jobs plus at most one (the schema
    read); the manifest's per-file rows add up to the table's count, and
    the returned table has the schema a fresh read of the stage sees."""
    df = graph.build_edges(string_triples).localCheckpoint()
    tag = "-".join(partition_by or ["flat"])

    def plain():
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(tmp_path / "plain"))

    _, write_jobs = _jobs_in_group(spark, f"plain-write-{tag}", plain)
    store = StageStore(tmp_path / "stages")
    out, commit_jobs = _jobs_in_group(
        spark, f"stage-commit-{tag}",
        lambda: store.write(df, "edges", partition_by=partition_by),
    )
    assert commit_jobs <= write_jobs + 1
    man = store.manifest("edges")
    assert man["rows"] == out.count() == df.count()
    assert len(man["partitions"]) == len(
        list((tmp_path / "stages" / "edges").rglob("*.parquet"))
    )
    assert all(set(p) == {"file", "rows"} for p in man["partitions"])
    reread = spark.read.parquet(str(tmp_path / "stages" / "edges"))
    assert out.schema == reread.schema
    assert man["schema"] == reread.schema.jsonValue()
