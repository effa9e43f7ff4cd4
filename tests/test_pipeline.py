"""End-to-end pipeline + kill/resume (SURVEY.md §5.2 items 1,4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import datalog_oracle as oracle
from zelph_spark import datagen, rules as Rz
from zelph_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def result(spark, fixture_docs_df, tmp_path_factory):
    root = tmp_path_factory.mktemp("pipe")
    dic = spark.createDataFrame(datagen.fixture_qid_dictionary())
    return run_pipeline(spark, fixture_docs_df, str(root), dictionary=dic)


def test_pipeline_saturation_matches_oracle(spark, result):
    """The pipeline fixpoint over canonicalized triples equals the oracle
    fixpoint over the same base — the P/R gate at P=R=1.0. Reasoning runs in
    long-id space and includes the import-time auto-type facts
    (wikidata.cpp:808-814), so the oracle base does too."""
    base = {
        (r.subj, r.pred, r.obj)
        for r in result.triples.select("subj", "pred", "obj").collect()
    }
    autotype = {(p, "P31", "Q130901") for _, p, _ in base}
    want = oracle.stratified_fixpoint(base | autotype, Rz.wikidata_rules())
    got = {
        (r.subj, r.pred, r.obj)
        for r in result.saturated.collect()
    }
    assert got == want
    # the long-id and string surfaces agree in cardinality (names join is
    # total: every id resolves to exactly one wikidata-lang name)
    assert result.saturated_ids.count() == len(got)


def test_pipeline_canonicalization_applied(result):
    """Q801/Q802 merged into Q800 before reasoning."""
    sat = result.saturated
    assert sat.filter(F.col("subj").isin("Q801", "Q802")).count() == 0
    assert sat.filter(
        (F.col("subj") == "Q800") & (F.col("pred") == "P527")
    ).count() >= 1


def test_pipeline_links_present(result):
    """Free-text mentions resolve: Q100's body mentions alpha/beta/gamma."""
    links = result.links
    got = {
        (r.src_entity, r.qid)
        for r in links.filter(F.col("doc_id") == "Q100").collect()
    }
    assert ("Q100", "Q402") in got  # 'beta' -> city (prior beats distractor)
    assert ("Q100", "Q100") in got  # self-mention 'alpha'


def test_pipeline_prob_carried_e2e(result):
    """Linked facts carry their ranking score as prob all the way into the
    canonical triples AND the materialized edge table
    (reasoning_deduce.cpp:256-261 confidence -> fact probability)."""
    from zelph_spark.link import MENTION_PRED

    mention_probs = [
        r.prob for r in result.triples.filter(
            F.col("pred") == MENTION_PRED).collect()
    ]
    assert mention_probs and all(p is not None for p in mention_probs)
    assert set(mention_probs) <= {0.9, 0.6, 0.2, 0.1}
    # trusted (extracted/base) facts stay certain: prob null
    assert result.triples.filter(
        (F.col("pred") != MENTION_PRED) & F.col("prob").isNotNull()
    ).count() == 0
    # and the long-id edge table preserves them
    assert result.edges.filter(F.col("prob").isNotNull()).count() == len(
        mention_probs
    )


def test_pipeline_prob_conflict_detected(spark):
    """A same-as merge that collapses a low-prob and a high-prob assertion of
    the same fact produces a prob_conflicts row and drops the fact from the
    canonical set (network.hpp:241-254 mixed branch, e2e)."""
    import random

    from zelph_spark import datagen
    from zelph_spark.link import MENTION_PRED
    from zelph_spark.pipeline import run_pipeline

    rng = random.Random(7)
    ents = [
        {"id": "Q900", "labels": {"en": "ninehundred"},
         "claims": [("P2888", ("item", "Q901"))], "body": "foo"},
        {"id": "Q901", "labels": {"en": "ninehundredone"},
         "claims": [("P31", ("item", "Q35120"))], "body": "bar"},
    ]
    docs = spark.createDataFrame(
        [datagen.entity_to_doc(e, rng) for e in ents],
        schema=datagen.SPANS_SCHEMA,
    )
    dic = spark.createDataFrame(
        [("foo", "QX", "en", 0.8), ("bar", "QX", "en", 0.2)],
        "surface string, qid string, lang string, prior double",
    )
    res = run_pipeline(spark, docs, dictionary=dic, reason=False)
    conf = {(r.subj, r.pred, r.obj) for r in res.prob_conflicts.collect()}
    assert conf == {("Q900", MENTION_PRED, "QX")}
    assert res.triples.filter(
        (F.col("subj") == "Q900") & (F.col("pred") == MENTION_PRED)
    ).count() == 0


def test_pipeline_constraint_rules_swept(spark, fixture_docs_df):
    """S5 in the e2e path: caller-supplied constraint rules (the shape
    statements.constraint_rules emits) are swept with the wikidata
    contradiction set inside run_pipeline (wikidata.cpp:401-547)."""
    from zelph_spark import datagen
    from zelph_spark.pipeline import run_pipeline
    from zelph_spark.rules import P as Pat, Rule

    dic = spark.createDataFrame(datagen.fixture_qid_dictionary())
    # none-of style shape: flag every has-part assertion (fires on fixture)
    rule = Rule("c-noneof-haspart", (Pat("?I", "P527", "?Y"),))
    res = run_pipeline(
        spark, fixture_docs_df, dictionary=dic, constraint_rules=[rule]
    )
    fired = {r.rule_id for r in res.contradictions.collect()}
    assert "c-noneof-haspart" in fired
    assert res.counters["stage_secs"]  # per-stage metrics recorded


def _contradiction_set(res):
    return {
        (r.rule_id, frozenset(r.bindings.items()))
        for r in res.contradictions.collect()
    }


def test_pipeline_resume_skips_completed_stages(spark, fixture_docs_df, tmp_path):
    """Kill/resume: after a full run, re-running reuses every stage
    checkpoint and produces identical saturated output."""
    root = tmp_path / "pipe2"
    dic = spark.createDataFrame(datagen.fixture_qid_dictionary())
    r1 = run_pipeline(spark, fixture_docs_df, str(root), dictionary=dic)
    s1 = {(r.subj, r.pred, r.obj) for r in r1.saturated.collect()}
    c1 = _contradiction_set(r1)
    assert c1
    # simulate a killed run that completed only extract+links: drop the rest
    from zelph_spark.checkpoint import StageStore

    store = StageStore(root)
    for stage in ("canon_triples", "edges", "names", "saturated"):
        store.drop(stage)
    # resume with DIFFERENT (empty) docs: untouched stages must come from
    # the checkpoints, proving the resume path reads, not recomputes
    empty_docs = fixture_docs_df.limit(0)
    r2 = run_pipeline(spark, empty_docs, str(root), dictionary=dic)
    s2 = {(r.subj, r.pred, r.obj) for r in r2.saturated.collect()}
    assert s1 == s2
    man = store.manifest("saturated")
    assert man["rows"] == len(s2)
    assert "resumed_reasoning" not in r2.counters
    # every stage complete, saturated included: reasoning resumes from the
    # stored fixpoint, and its contradiction sweep matches the first run's
    r3 = run_pipeline(spark, empty_docs, str(root), dictionary=dic)
    assert r3.counters["resumed_reasoning"]
    assert "fixpoint_log" not in r3.counters
    assert {(r.subj, r.pred, r.obj) for r in r3.saturated.collect()} == s1
    assert _contradiction_set(r3) == c1
