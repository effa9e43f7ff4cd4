"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the zelph-style fixpoint reasoner over a
taxonomy derived from the sf0.001 tables. ``queries()`` — one entry per
implemented operator family from SURVEY.md §2 plus the training-data ops;
``oracle_sql()`` — DuckDB twins (identical column names, floats rounded,
counts BIGINT). Non-SQL-expressible ops (MinHash/SimHash/LSH/multimodal and
the mapInPandas extraction itself) are registered without an oracle and get
the rows-only check; their semantics are covered by tests/ against
independent Python oracles instead.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from datetime import timedelta
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from zelph_spark import canon, closure, extract, rules as Rz  # noqa: E402
from zelph_spark.ops import dedup, sampling, similarity, textops  # noqa: E402
from zelph_spark.reasoning import evaluate_contradictions, run_fixpoint  # noqa: E402
from zelph_spark.session import literal  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in ("documents", "embeddings"):
        # The testdata doc/embedding tables are single-row-group parquet
        # files: one scan split, so every downstream map stage (shingling,
        # hashing, cosine) runs on ONE core. Production inputs arrive in
        # many splits; this REBALANCE-style spread restores the map-side
        # parallelism the plan would naturally have at scale (rows are tiny
        # relative to the compute per row, so the one-time shuffle is noise).
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


# ---------------------------------------------------------------------------
# Derived KG inputs (deterministic functions of the driver tables)
# ---------------------------------------------------------------------------


def _taxonomy_triples(spark, sf_dir):
    """Customer -> nation-class -> region-class -> ROOT taxonomy:
    isa edges from customers, subclass chain from nation/region."""
    cust = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("subj"),
        F.lit("P31").alias("pred"),
        F.concat(F.lit("K"), F.col("c_nationkey")).alias("obj"),
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.concat(F.lit("K"), F.col("n_nationkey")).alias("subj"),
        F.lit("P279").alias("pred"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("obj"),
    )
    reg = _t(spark, sf_dir, "region").select(
        F.concat(F.lit("R"), F.col("r_regionkey")).alias("subj"),
        F.lit("P279").alias("pred"),
        F.lit("ROOT").alias("obj"),
    )
    memb = literal(
        spark, [("P279", "P31", Rz.TRANSITIVE)], "subj string, pred string, obj string"
    )
    return cust.unionByName(nat).unionByName(reg).unionByName(memb)


_TAXONOMY_ORACLE = """
WITH isa AS (
  SELECT 'C' || c_custkey AS subj, 'K' || c_nationkey AS obj FROM customer
), sub AS (
  SELECT 'K' || n_nationkey AS subj, 'R' || n_regionkey AS obj FROM nation
  UNION ALL
  SELECT 'R' || r_regionkey AS subj, 'ROOT' AS obj FROM region
), subplus AS (
  WITH RECURSIVE r(subj, obj) AS (
    SELECT subj, obj FROM sub
    UNION
    SELECT r.subj, s.obj FROM r JOIN sub s ON r.obj = s.subj
  ) SELECT subj, obj FROM r
)
"""


def q_kg_reason_taxonomy(spark, sf_dir):
    """Full fixpoint over the derived taxonomy: subclass-lift + transitive
    meta-rule (variable-predicate). Returns the saturated triple set."""
    base = _taxonomy_triples(spark, sf_dir)
    fp = run_fixpoint(base, Rz.wikidata_rules())
    return fp.edges.select("subj", "pred", "obj")


ORACLE_KG_REASON = (
    _TAXONOMY_ORACLE
    + """
SELECT subj, 'P31' AS pred, obj FROM isa
UNION
SELECT i.subj, 'P31' AS pred, sp.obj FROM isa i JOIN subplus sp ON i.obj = sp.subj
UNION
SELECT subj, 'P279' AS pred, obj FROM subplus
UNION
SELECT 'P279' AS subj, 'P31' AS pred, 'Q18647515' AS obj
"""
)


def q_kg_closure(spark, sf_dir):
    """Transitive-closure operator (C1/C2) on the binary-tree edge set
    (c_custkey -> c_custkey/2)."""
    pairs = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") >= 2)
        .select(
            F.col("c_custkey").alias("subj"),
            F.floor(F.col("c_custkey") / 2).cast("bigint").alias("obj"),
        )
    )
    return closure.transitive_closure(pairs).select(
        F.col("subj").cast("bigint").alias("subj"),
        F.col("obj").cast("bigint").alias("obj"),
    )


ORACLE_KG_CLOSURE = """
WITH RECURSIVE base AS (
  SELECT c_custkey AS subj, CAST(FLOOR(c_custkey / 2) AS BIGINT) AS obj
  FROM customer WHERE c_custkey >= 2
), r(subj, obj) AS (
  SELECT subj, obj FROM base
  UNION
  SELECT r.subj, b.obj FROM r JOIN base b ON r.obj = b.subj
)
SELECT subj, obj FROM r
"""


def q_kg_components(spark, sf_dir):
    """Connected components (union-find by iterative hash joins, F11) over
    consecutive-key chains broken at multiples of 7."""
    c = _t(spark, sf_dir, "customer")
    pairs = (
        c.alias("x")
        .join(c.alias("y"), F.col("x.c_custkey") + 1 == F.col("y.c_custkey"))
        .filter((F.col("x.c_custkey") % 7) != 0)
        .select(
            F.col("x.c_custkey").alias("a"), F.col("y.c_custkey").alias("b")
        )
    )
    comp = canon.connected_components(pairs)
    return comp.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("comp").cast("bigint").alias("comp"),
    )


ORACLE_KG_COMPONENTS = """
WITH RECURSIVE base AS (
  SELECT x.c_custkey AS a, y.c_custkey AS b
  FROM customer x JOIN customer y ON x.c_custkey + 1 = y.c_custkey
  WHERE x.c_custkey % 7 <> 0
), sym AS (
  SELECT a, b FROM base UNION SELECT b, a FROM base
), r(node, reach) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.node, s.b FROM r JOIN sym s ON r.reach = s.a
)
SELECT node, LEAST(node, MIN(reach)) AS comp FROM r GROUP BY node
"""


def q_kg_symmetry(spark, sf_dir):
    """Symmetry rule (opp-sym) as a one-rule fixpoint over derived
    'is opposite of' edges between nation pairs."""
    n = _t(spark, sf_dir, "nation").select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("subj"),
        F.lit("P461").alias("pred"),
        F.concat(F.lit("N"), (24 - F.col("n_nationkey"))).alias("obj"),
    ).filter(F.col("subj") != F.col("obj"))
    fp = run_fixpoint(n, [r for r in Rz.wikidata_rules() if r.rule_id == "opp-sym"])
    return fp.edges.select("subj", "pred", "obj")


ORACLE_KG_SYMMETRY = """
WITH base AS (
  SELECT 'N' || n_nationkey AS subj, 'P461' AS pred,
         'N' || (24 - n_nationkey) AS obj
  FROM nation WHERE 'N' || n_nationkey <> 'N' || (24 - n_nationkey)
)
SELECT subj, pred, obj FROM base
UNION
SELECT obj AS subj, pred, subj AS obj FROM base
"""


def q_kg_contradictions(spark, sf_dir):
    """Contradiction detection (R11): subclass 2-cycles seeded from part
    parity classes; returns distinct (a, b) bindings of c-sub-cycle."""
    edges = _t(spark, sf_dir, "part").select(
        F.concat(F.lit("P"), F.col("p_partkey") % 2).alias("subj"),
        F.lit("P279").alias("pred"),
        F.concat(F.lit("P"), (F.col("p_partkey") + 1) % 2).alias("obj"),
    ).distinct()
    cons = evaluate_contradictions(
        edges, [r for r in Rz.wikidata_contradiction_rules() if r.rule_id == "c-sub-cycle"]
    )
    return cons.select(
        F.col("bindings")["A"].alias("a"), F.col("bindings")["B"].alias("b")
    ).distinct()


ORACLE_KG_CONTRADICTIONS = """
WITH e AS (
  SELECT DISTINCT 'P' || (p_partkey % 2) AS subj,
                  'P' || ((p_partkey + 1) % 2) AS obj
  FROM part
)
SELECT x.subj AS a, x.obj AS b FROM e x JOIN e y
  ON x.subj = y.obj AND x.obj = y.subj
"""


def q_kg_entity_link(spark, sf_dir):
    """Scored entity linking (N3 shape): document words vs an ambiguous
    inline dictionary; best candidate per (doc_id, surface)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.array_distinct(textops.tokens("text"))).alias("surface")
    )
    dic = literal(spark, [
        ("customer", "Q1", 0.9), ("part", "Q2", 0.8), ("window", "Q3", 0.7),
        ("join", "Q4", 0.6), ("order", "Q5", 0.5), ("part", "Q9", 0.2),
        ("window", "Q8", 0.7),
    ], "surface string, qid string, prior double")
    cands = words.join(F.broadcast(dic), "surface")
    w = Window.partitionBy("doc_id", "surface").orderBy(
        F.col("prior").desc(), F.col("qid").asc()
    )
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "surface", "qid", F.round("prior", 6).alias("score"))
    )


ORACLE_KG_ENTITY_LINK = """
WITH dic(surface, qid, prior) AS (
  VALUES ('customer','Q1',0.9),('part','Q2',0.8),('window','Q3',0.7),
         ('join','Q4',0.6),('order','Q5',0.5),('part','Q9',0.2),
         ('window','Q8',0.7)
), words AS (
  SELECT DISTINCT d.doc_id, w.surface
  FROM documents d,
       unnest(string_split(lower(trim(d.text)), ' ')) AS w(surface)
), ranked AS (
  SELECT w.doc_id, w.surface, dic.qid, dic.prior,
         row_number() OVER (PARTITION BY w.doc_id, w.surface
                            ORDER BY dic.prior DESC, dic.qid ASC) AS rn
  FROM words w JOIN dic ON w.surface = dic.surface
)
SELECT doc_id, surface, qid, ROUND(CAST(prior AS DOUBLE), 6) AS score FROM ranked WHERE rn = 1
"""


def q_kg_extract_roundtrip(spark, sf_dir):
    """Extraction through the REAL render->spans->parse path: entities are
    derived from the documents table, rendered to dump lines, split into
    interleaved spans, and parsed by the mapInPandas extractor. The oracle
    computes the same triples structurally — any parser/acceptance-rule bug
    breaks parity."""
    from zelph_spark import datagen
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")

    def to_spans(batches):
        import random

        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                ent = {
                    "id": f"Q{r.doc_id}",
                    "labels": {"en": f"doc {r.doc_id}"},
                    "claims": [
                        ("P31", ("item", f"L{r.lang}")),
                        ("P123", ("item", f"S{r.source}")),
                        ("P1476", ("string", "not an item")),
                    ],
                }
                rng = random.Random(int(r.doc_id))
                rows.append(datagen.entity_to_doc(ent, rng))
            yield pd.DataFrame(rows)

    spans_docs = docs.mapInPandas(to_spans, schema=datagen.SPANS_SCHEMA)
    return extract.triples(extract.extract_all(spans_docs, with_mentions=False)).select(
        "subj", "pred", "obj"
    )


ORACLE_KG_EXTRACT = """
SELECT 'Q' || doc_id AS subj, 'P31' AS pred, 'L' || lang AS obj FROM documents
UNION ALL
SELECT 'Q' || doc_id AS subj, 'P123' AS pred, 'S' || source AS obj FROM documents
"""


def q_kg_statements(spark, sf_dir):
    """Reified statement extraction (S3/S4) through the REAL render->parse
    path: qualified claims derived from the documents table, parsed by the
    statements scanner; the oracle computes the same reified triples
    structurally."""
    import pandas as pd

    from zelph_spark import datagen, statements

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    def to_lines(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                ent = {
                    "id": f"Q{r.doc_id}",
                    "labels": {"en": f"doc {r.doc_id}"},
                    "claims": [
                        (
                            "P39",
                            ("item", f"L{r.lang}"),
                            [("P1545", ("quantity", f"+{r.n_chars}"))],
                        ),
                        ("P31", ("item", "Q5")),  # unqualified -> no statement
                    ],
                }
                rows.append((datagen.render_line(ent),))
            yield pd.DataFrame(rows, columns=["line"])

    lines = docs.mapInPandas(to_lines, schema="line string")
    return statements.extract_statements(lines).orderBy("subj", "pred", "obj")


ORACLE_KG_STATEMENTS = """
WITH sid AS (
  SELECT doc_id, lang, n_chars,
         'Q' || doc_id || '$P39-0' AS stmt, 'Q' || doc_id AS eid
  FROM documents
)
SELECT eid AS subj, 'p:P39' AS pred, stmt AS obj FROM sid
UNION ALL
SELECT stmt, 'ps:P39', 'L' || lang FROM sid
UNION ALL
SELECT stmt, 'pq:P1545', '+' || n_chars FROM sid
UNION ALL
SELECT stmt, 'wikibase:rank', 'wikibase:NormalRank' FROM sid
ORDER BY subj, pred, obj
"""


def q_kg_sparql(spark, sf_dir):
    """SPARQL text layer (Q1-Q11) over the derived taxonomy: grouped count
    of instances per class with transitive subclass lift via p+ paths."""
    from zelph_spark.sparql import sparql

    base = _taxonomy_triples(spark, sf_dir)
    out = sparql(
        base,
        "SELECT ?k (COUNT(?x) AS ?n) WHERE { ?x P31 ?c . ?c P279+ ?k } "
        "GROUP BY ?k",
    )
    return out.select("k", F.col("n").cast("bigint").alias("n")).orderBy("k")


ORACLE_KG_SPARQL = (
    _TAXONOMY_ORACLE
    + """
SELECT sp.obj AS k, COUNT(*) AS n
FROM isa i JOIN subplus sp ON i.obj = sp.subj
GROUP BY sp.obj ORDER BY k
"""
)


def q_kg_sparql_subquery(spark, sf_dir):
    """SPARQL subquery + numeric FILTER (Q13 / sparql.zph:1016): the class
    histogram computed in a { SELECT ... GROUP BY } subquery, outer FILTER
    keeps classes with more than 300 transitive instances."""
    from zelph_spark.sparql import sparql

    base = _taxonomy_triples(spark, sf_dir)
    out = sparql(
        base,
        "SELECT ?k ?n WHERE { "
        "{ SELECT ?k (COUNT(?x) AS ?n) WHERE { ?x P31 ?c . ?c P279+ ?k } "
        "GROUP BY ?k } FILTER(?n > 300) }",
    )
    return out.select("k", F.col("n").cast("bigint").alias("n")).orderBy("k")


ORACLE_KG_SPARQL_SUBQUERY = (
    _TAXONOMY_ORACLE
    + """
SELECT k, n FROM (
  SELECT sp.obj AS k, COUNT(*) AS n
  FROM isa i JOIN subplus sp ON i.obj = sp.subj
  GROUP BY sp.obj
) WHERE n > 300 ORDER BY k
"""
)


def q_kg_sparql_seq(spark, sf_dir):
    """Bound-end SEQUENCE property path (Q12, [r4] seeded planner): which
    customers' classes transitively reach region R1 — ``?x P31/P279+ wd:R1``
    threads the constant seed right-to-left through the sequence
    (sparql.zph:652-811), touching only R1's cone instead of the full
    closure of every element."""
    from zelph_spark.sparql import sparql

    base = _taxonomy_triples(spark, sf_dir)
    out = sparql(base, "SELECT ?x WHERE { ?x P31/P279+ wd:R1 . }")
    return out.select("x").distinct().orderBy("x")


ORACLE_KG_SPARQL_SEQ = (
    _TAXONOMY_ORACLE
    + """
SELECT DISTINCT i.subj AS x
FROM isa i JOIN subplus sp ON i.obj = sp.subj
WHERE sp.obj = 'R1' ORDER BY x
"""
)


def q_kg_sparql_cycle(spark, sf_dir):
    """Same-variable property-path ends (``?x P279+ ?x`` — the cycle idiom,
    [r4] crash fix): members of the nation 25-cycle are returned, supplier
    nodes that merely REACH the cycle are not."""
    from zelph_spark.sparql import sparql

    nat = _t(spark, sf_dir, "nation").select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("subj"),
        F.lit("P279").alias("pred"),
        F.concat(F.lit("N"), (F.col("n_nationkey") + 1) % 25).alias("obj"),
    ).distinct()
    sup = _t(spark, sf_dir, "supplier").select(
        F.concat(F.lit("S"), F.col("s_suppkey")).alias("subj"),
        F.lit("P279").alias("pred"),
        F.concat(F.lit("N"), F.col("s_nationkey")).alias("obj"),
    ).distinct()
    out = sparql(nat.unionByName(sup), "SELECT ?x WHERE { ?x P279+ ?x . }")
    return out.select("x").distinct().orderBy("x")


ORACLE_KG_SPARQL_CYCLE = """
WITH e AS (
  SELECT DISTINCT 'N' || n_nationkey AS subj,
                  'N' || ((n_nationkey + 1) % 25) AS obj FROM nation
  UNION
  SELECT DISTINCT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
), closure AS (
  WITH RECURSIVE r(s, o) AS (
    SELECT subj, obj FROM e
    UNION
    SELECT r.s, e.obj FROM r JOIN e ON r.o = e.subj
  ) SELECT s, o FROM r
)
SELECT DISTINCT s AS x FROM closure WHERE s = o ORDER BY x
"""


def q_kg_cluster_drop(spark, sf_dir):
    """Cluster provenance workspaces (network.hpp:675-755, [r4] assert-time
    membership): default-workspace nation facts, a supplier workspace 'w'
    whose batch creates the S-nodes, then LATER default-workspace customer
    facts — some referencing the workspace-created S-nodes. Dropping 'w'
    destroys its facts AND every later fact touching a recorded node
    (zelph_maintenance.cpp:162-181); pre-existing and unrelated facts
    survive. Returns the surviving edge set."""
    from zelph_spark import clusters

    nat = _t(spark, sf_dir, "nation").select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("subj"),
        F.lit("P31").alias("pred"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("obj"),
    ).distinct()
    sup = _t(spark, sf_dir, "supplier").select(
        F.concat(F.lit("S"), F.col("s_suppkey")).alias("subj"),
        F.lit("P31").alias("pred"),
        F.concat(F.lit("N"), F.col("s_nationkey")).alias("obj"),
    ).distinct()
    cust = _t(spark, sf_dir, "customer")
    late = cust.select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("subj"),
        F.lit("P127").alias("pred"),
        F.concat(F.lit("S"), (F.col("c_custkey") % 10) + 1).alias("obj"),
    ).distinct().unionByName(
        cust.select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("subj"),
            F.lit("P31").alias("pred"),
            F.concat(F.lit("N"), F.col("c_nationkey")).alias("obj"),
        ).distinct()
    )
    edges, membership = clusters.assert_batch(None, nat)
    edges, membership = clusters.assert_batch(edges, sup, "w", membership)
    edges, membership = clusters.assert_batch(edges, late, None, membership)
    kept, _, _ = clusters.drop_cluster(edges, "w", membership=membership)
    return kept.select("subj", "pred", "obj").orderBy("subj", "pred", "obj")


ORACLE_KG_CLUSTER_DROP = """
WITH def1 AS (
  SELECT DISTINCT 'N' || n_nationkey AS subj, 'P31' AS pred,
                  'R' || n_regionkey AS obj FROM nation
), clu AS (
  SELECT DISTINCT 'S' || s_suppkey AS subj, 'P31' AS pred,
                  'N' || s_nationkey AS obj FROM supplier
), late AS (
  SELECT DISTINCT 'C' || c_custkey AS subj, 'P127' AS pred,
                  'S' || ((c_custkey % 10) + 1) AS obj FROM customer
  UNION
  SELECT DISTINCT 'C' || c_custkey, 'P31', 'N' || c_nationkey FROM customer
), prior_nodes AS (
  SELECT subj AS node FROM def1
  UNION SELECT pred FROM def1 UNION SELECT obj FROM def1
), members AS (
  SELECT subj AS node FROM clu
  UNION SELECT pred FROM clu UNION SELECT obj FROM clu
  EXCEPT SELECT node FROM prior_nodes
), remaining AS (
  SELECT subj, pred, obj FROM def1 UNION SELECT subj, pred, obj FROM late
)
SELECT subj, pred, obj FROM remaining r
WHERE NOT EXISTS (
  SELECT 1 FROM members m WHERE m.node IN (r.subj, r.pred, r.obj)
)
ORDER BY subj, pred, obj
"""


def q_kg_degrees(spark, sf_dir):
    """Degree/cardinality stats (F8): facts per predicate of the derived
    taxonomy graph."""
    base = _taxonomy_triples(spark, sf_dir)
    return (
        base.groupBy("pred")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_facts"),
            F.countDistinct("subj").cast("bigint").alias("n_subjects"),
        )
        .orderBy("pred")
    )


ORACLE_KG_DEGREES = (
    _TAXONOMY_ORACLE
    + """
, base AS (
  SELECT subj, 'P31' AS pred, obj FROM isa
  UNION ALL SELECT subj, 'P279', obj FROM sub
  UNION ALL SELECT 'P279', 'P31', 'Q18647515'
)
SELECT pred, COUNT(*) AS n_facts, COUNT(DISTINCT subj) AS n_subjects
FROM base GROUP BY pred ORDER BY pred
"""
)


def q_kg_constraint_contradictions(spark, sf_dir):
    """S5 end-to-end: P2302 property-constraint statements (rendered through
    the REAL dump-line path, wikidata.cpp:401-547) compile to contradiction
    rules, evaluated by the FUSED sweep over edges derived from customers:
    conflicts-with(P100, P200) fires for custkey%5==0 rows (they carry both
    predicates), none-of(P101, K3) fires for nation 3."""
    import pandas as pd

    from zelph_spark import datagen, statements as S

    ents = [
        {"id": "P100", "labels": {}, "claims": [
            ("P2302", ("item", S.CONFLICTS_WITH), [("P2306", ("item", "P200"))]),
        ]},
        {"id": "P101", "labels": {}, "claims": [
            ("P2302", ("item", S.NONE_OF), [("P2305", ("item", "K3"))]),
        ]},
    ]
    lines = spark.createDataFrame(
        pd.DataFrame({"line": [datagen.render_line(e) for e in ents]})
    )
    rules, _ = S.constraint_rules(S.extract_statements(lines))
    c = _t(spark, sf_dir, "customer")
    ckey = F.concat(F.lit("C"), F.col("c_custkey"))
    edges = (
        c.select(ckey.alias("subj"), F.lit("P100").alias("pred"),
                 F.concat(F.lit("K"), F.col("c_nationkey")).alias("obj"))
        .unionByName(
            c.filter(F.col("c_custkey") % 5 == 0).select(
                ckey.alias("subj"), F.lit("P200").alias("pred"),
                F.concat(F.lit("R"), F.col("c_custkey") % 3).alias("obj"))
        )
        .unionByName(
            c.select(ckey.alias("subj"), F.lit("P101").alias("pred"),
                     F.concat(F.lit("K"), F.col("c_nationkey")).alias("obj"))
        )
    )
    cons = evaluate_contradictions(edges, rules)
    return (
        cons.select("rule_id", F.col("bindings")["I"].alias("i"))
        .distinct()
        .orderBy("rule_id", "i")
    )


ORACLE_KG_CONSTRAINTS = """
WITH e1 AS (
  SELECT 'C' || c_custkey AS i, 'K' || c_nationkey AS v, c_custkey AS k
  FROM customer
)
SELECT 'c-conflict-P100-P200' AS rule_id, i FROM e1 WHERE k % 5 = 0
UNION
SELECT 'c-noneof-P101-K3' AS rule_id, i FROM e1 WHERE v = 'K3'
ORDER BY rule_id, i
"""


def q_kg_disjointness(spark, sf_dir):
    """The P2738/P11260 disjoint-union violation workload
    (dev_scripts/wikidata-disjointness-violations.zph:3-4 and the paper
    query of test_wikidata_qualifiers.cpp:144), end-to-end: union-class
    declarations rendered through the REAL dump-line path (one P2738
    statement per nation, two P11260 qualifiers listing the disjoint pair
    D2k/D2k+1, every 5th statement deprecated), parsed by the statements
    scanner, deprecated statements MINUS'd out, then the two 5-condition
    conjunction contradiction rules evaluated over statements + taxonomy
    edges derived from customers (subclass K*, instance X*; every 7th/11th
    customer straddles a disjoint pair)."""
    import pandas as pd

    from zelph_spark import datagen, statements as S

    nat = _t(spark, sf_dir, "nation").select("n_nationkey")

    def to_lines(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                k = int(r.n_nationkey)
                ent = {
                    "id": f"Q90{k}",
                    "labels": {"en": f"union class {k}"},
                    "claims": [
                        (
                            "P2738",
                            ("item", f"UL{k}"),
                            [
                                ("P11260", ("item", f"D{2 * k}")),
                                ("P11260", ("item", f"D{2 * k + 1}")),
                            ],
                            "deprecated" if k % 5 == 0 else "normal",
                        ),
                    ],
                }
                rows.append((datagen.render_line(ent),))
            yield pd.DataFrame(rows, columns=["line"])

    lines = nat.mapInPandas(to_lines, schema="line string")
    stmts = S.drop_deprecated_statements(S.extract_statements(lines))

    c = _t(spark, sf_dir, "customer")
    m = F.col("c_custkey") % 50
    partner = F.concat(F.lit("D"), m + 1 - 2 * (m % 2))
    base = F.concat(F.lit("D"), m)
    kn = F.concat(F.lit("K"), F.col("c_custkey"))
    xn = F.concat(F.lit("X"), F.col("c_custkey"))
    edges = (
        c.select(kn.alias("subj"), F.lit("P279").alias("pred"), base.alias("obj"))
        .unionByName(
            c.filter(F.col("c_custkey") % 7 == 0).select(
                kn.alias("subj"), F.lit("P279").alias("pred"),
                partner.alias("obj"),
            )
        )
        .unionByName(
            c.select(xn.alias("subj"), F.lit("P31").alias("pred"),
                     base.alias("obj"))
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 11 == 0).select(
                xn.alias("subj"), F.lit("P31").alias("pred"),
                partner.alias("obj"),
            )
        )
    )
    cons = evaluate_contradictions(
        stmts.unionByName(edges), S.disjointness_rules()
    )
    b = F.col("bindings")
    return (
        cons.select(
            "rule_id",
            b["C"].alias("c"),
            F.coalesce(b["K"], b["X"]).alias("k"),
            b["A"].alias("a"),
            b["B"].alias("b"),
        )
        .distinct()
        .orderBy("rule_id", "c", "k", "a", "b")
    )


ORACLE_KG_DISJOINTNESS = """
WITH st AS (
  SELECT 'Q90' || n_nationkey AS c,
         'D' || (2 * n_nationkey) AS d1,
         'D' || (2 * n_nationkey + 1) AS d2
  FROM nation WHERE n_nationkey % 5 <> 0
), listed AS (
  SELECT c, d1 AS d FROM st UNION ALL SELECT c, d2 FROM st
), sube AS (
  SELECT 'K' || c_custkey AS k, 'D' || (c_custkey % 50) AS d FROM customer
  UNION ALL
  SELECT 'K' || c_custkey,
         'D' || (c_custkey % 50 + 1 - 2 * (c_custkey % 50 % 2))
  FROM customer WHERE c_custkey % 7 = 0
), isae AS (
  SELECT 'X' || c_custkey AS k, 'D' || (c_custkey % 50) AS d FROM customer
  UNION ALL
  SELECT 'X' || c_custkey,
         'D' || (c_custkey % 50 + 1 - 2 * (c_custkey % 50 % 2))
  FROM customer WHERE c_custkey % 11 = 0
)
SELECT DISTINCT 'disjoint-p279' AS rule_id, la.c AS c, ea.k AS k,
       la.d AS a, lb.d AS b
FROM listed la JOIN listed lb ON la.c = lb.c
JOIN sube ea ON ea.d = la.d JOIN sube eb ON eb.k = ea.k AND eb.d = lb.d
UNION
SELECT DISTINCT 'disjoint-p31', la.c, ea.k, la.d, lb.d
FROM listed la JOIN listed lb ON la.c = lb.c
JOIN isae ea ON ea.d = la.d JOIN isae eb ON eb.k = ea.k AND eb.d = lb.d
ORDER BY rule_id, c, k, a, b
"""


# ---------------------------------------------------------------------------
# Relational core (Catalyst-heavy, TPC-H-ish)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


ORACLE_Q3 = """
SELECT o_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q5_nation_revenue(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        )
        .orderBy("r_name")
    )


ORACLE_Q5 = """
SELECT r_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# ---------------------------------------------------------------------------
# Training-data ops
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_duplicates(d).orderBy("text_hash")


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM documents GROUP BY md5(text) HAVING COUNT(*) >= 2 ORDER BY text_hash
"""


def q_dedup_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    sh = dedup.word_shingles(d, n=2)
    return dedup.jaccard_pairs(sh, threshold=0.2, max_df=None).orderBy("a", "b")


ORACLE_DEDUP_JACCARD = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(lower(trim(text)), ' ')) AS tok,
         generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle
  FROM toks
  QUALIFY shingle IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT a, b, ROUND(i / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter JOIN sizes sa ON inter.a = sa.doc_id
           JOIN sizes sb ON inter.b = sb.doc_id
WHERE i / (sa.sz + sb.sz - i) >= 0.2
ORDER BY a, b
"""


def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup pairs with exact-Jaccard verification: the LSH
    banding generates candidates, every candidate is re-scored against the
    true shingle sets — so the DuckDB all-pairs oracle hash-matches (the
    est_jaccard variant stays covered by tests/test_ops.py)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_verified_pairs(
        dedup.word_shingles(d, n=2), num_hashes=64, bands=32, threshold=0.5
    ).orderBy("a", "b")


ORACLE_DEDUP_MINHASH = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(lower(trim(text)), ' ')) AS tok,
         generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle
  FROM toks
  QUALIFY shingle IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT a, b, ROUND(i / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter JOIN sizes sa ON inter.a = sa.doc_id
           JOIN sizes sb ON inter.b = sb.doc_id
WHERE i / (sa.sz + sb.sz - i) >= 0.5
ORDER BY a, b
"""


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs, portable hashing: the per-(token, bit)
    values come from md5 (bit-identical in Spark and DuckDB), so the full
    simhash → pigeonhole blocking → exact Hamming verify pipeline is
    recomputable by the oracle (the xxhash64 production default stays
    covered by tests/test_ops.py). Blocking has exact recall at the budget,
    so the engine's pair set equals the oracle's all-pairs filter."""
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(
        dedup.simhash(d, portable=True), max_hamming=6
    )


_SIMHASH_BIT_SUMS = ",\n    ".join(
    "SUM(CASE WHEN (h{w} >> {off}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}".format(
        w=1 if i < 32 else 2, off=i % 32, i=i
    )
    for i in range(64)
)
_SIMHASH_ASSEMBLE = " | ".join(
    # DuckDB raises on 1::BIGINT << 63 (signed overflow); bit 63 is the
    # sign bit, i.e. long-min — same value Spark's shiftleft(1L, 63) wraps to
    "(CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1)::BIGINT ELSE 0::BIGINT END)"
    if i == 63
    else f"(CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)"
    for i in range(64)
)
ORACLE_DEDUP_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
  FROM documents
), th AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2
  FROM toks
), sums AS (
  SELECT doc_id,
    {_SIMHASH_BIT_SUMS}
  FROM th GROUP BY doc_id
), sh AS (
  SELECT doc_id, {_SIMHASH_ASSEMBLE} AS simhash FROM sums
)
SELECT x.doc_id AS a, y.doc_id AS b,
       bit_count(xor(x.simhash, y.simhash))::INT AS hamming
FROM sh x JOIN sh y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 6
"""


def q_dedup_winnow(spark, sf_dir):
    """Winnowing partial-overlap dedup (MOSS local fingerprints,
    Schleimer/Wilkerson/Aiken SIGMOD'03): hash every word 4-gram, keep the
    min of each 4-hash sliding window, pair documents sharing >= 2
    fingerprints. The shared-passage primitive the whole-document dedup
    ops can't express: any common token run of length >= 7 guarantees a
    shared fingerprint. Portable md5-derived hashes, so the oracle
    recomputes the exact fingerprint set (window-function formulation);
    the Spark side is one columnar projection per document — no shuffle
    until the (fp) equi-join, with the same max_df stop-key skew guard as
    dedup_jaccard."""
    d = _t(spark, sf_dir, "documents")
    return dedup.winnow_overlap_pairs(
        dedup.winnow_fingerprints(d, k=4, w=4), min_shared=2, max_df=100
    ).orderBy("a", "b")


ORACLE_DEDUP_WINNOW = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(lower(trim(text)), ' ')) AS tok,
         generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
  FROM documents
), kg AS (
  SELECT doc_id, pos,
         tok || ' ' || lead(tok, 1) OVER d || ' ' || lead(tok, 2) OVER d
             || ' ' || lead(tok, 3) OVER d AS gram
  FROM toks
  WINDOW d AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 3) OVER d IS NOT NULL
), h AS (
  SELECT doc_id,
         ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
         COUNT(*) OVER (PARTITION BY doc_id) AS ng
  FROM kg
), wmin AS (
  SELECT doc_id, rn, ng,
         MIN(hv) OVER (PARTITION BY doc_id ORDER BY rn
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM h
), fps AS (
  SELECT DISTINCT doc_id, fp
  FROM wmin
  WHERE rn <= ng - 4 + 1 OR (ng < 4 AND rn = 1)
), dfc AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 100
), kept AS (
  SELECT fps.doc_id, fps.fp FROM fps JOIN dfc USING (fp)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
), shared AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*)::BIGINT AS n_shared
  FROM kept x JOIN kept y ON x.fp = y.fp AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
  HAVING COUNT(*) >= 2
)
SELECT a, b, n_shared,
       ROUND(n_shared / LEAST(sa.sz, sb.sz), 6) AS containment
FROM shared JOIN sizes sa ON shared.a = sa.doc_id
            JOIN sizes sb ON shared.b = sb.doc_id
ORDER BY a, b
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER ASSIGNMENT — the keep/drop decision step after pair
    generation: minhash-verified pairs (threshold 0.5) -> connected
    components (chains collapse transitively) -> canonical survivor per
    cluster (longest doc by token count, ties to smallest id). The DuckDB
    oracle rebuilds the same clusters with a recursive-CTE transitive
    closure over the exact-Jaccard pair set."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_verified_pairs(
        dedup.word_shingles(d, n=2), num_hashes=64, bands=32, threshold=0.5
    )
    return dedup.cluster_assignments(d, pairs).orderBy("doc_id")


ORACLE_DEDUP_CLUSTERS = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         unnest(string_split(lower(trim(text)), ' ')) AS tok,
         generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle
  FROM toks
  QUALIFY shingle IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
), p AS (
  SELECT a, b
  FROM inter JOIN sizes sa ON inter.a = sa.doc_id
             JOIN sizes sb ON inter.b = sb.doc_id
  WHERE i / (sa.sz + sb.sz - i) >= 0.5
), edges AS (
  SELECT a AS src, b AS dst FROM p UNION SELECT b AS src, a AS dst FROM p
), reach AS (
  SELECT src AS node, src AS r FROM edges
  UNION
  SELECT reach.node, e.dst AS r FROM reach JOIN edges e ON reach.r = e.src
), comp AS (
  SELECT node, MIN(r) AS comp FROM reach GROUP BY node
), nt AS (
  SELECT doc_id,
         CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens
  FROM documents
), sized AS (
  SELECT c.node, c.comp, nt.n_tokens FROM comp c JOIN nt ON c.node = nt.doc_id
)
SELECT node AS doc_id,
       FIRST_VALUE(node) OVER w AS canonical_id,
       COUNT(*) OVER (PARTITION BY comp) AS cluster_size,
       node = FIRST_VALUE(node) OVER w AS keep
FROM sized
WINDOW w AS (PARTITION BY comp ORDER BY n_tokens DESC, node ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY doc_id
"""


def q_text_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = textops.with_fingerprint(textops.with_quality_score(
        textops.with_token_count(d)))
    return out.select("doc_id", "n_tokens", "quality", "fingerprint")


ORACLE_TEXT_STATS = """
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       ROUND(
         0.4 * LEAST(1.0, len(toks) / 64.0)
         + 0.3 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
         + 0.3 * (len(list_filter(toks, x -> x IN
             ('the','a','of','and','to','in','is','it','that','for')))
             / CAST(len(toks) AS DOUBLE)), 6) AS quality,
       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
FROM t
"""


def q_text_langid(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return textops.with_langid(d).groupBy("lang_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).orderBy("lang_pred")


ORACLE_TEXT_LANGID = """
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents
), hits AS (
  SELECT doc_id,
    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','von','mit','den','ein','zu'))) AS de,
    len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS en,
    len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','por','con','los'))) AS es,
    len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','un','une','est','dans'))) AS fr,
    len(list_filter(toks, x -> x IN ('de5','shi4','le5','zai4','he2','you3','wo3','ta1','men5','zhe4'))) AS zh
  FROM t
), pred AS (
  SELECT doc_id, CASE
    WHEN GREATEST(de, en, es, fr, zh) = 0 THEN 'und'
    WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
    WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
    WHEN es >= fr AND es >= zh THEN 'es'
    WHEN fr >= zh THEN 'fr'
    ELSE 'zh' END AS lang_pred
  FROM hits
)
SELECT lang_pred, COUNT(*) AS n_docs FROM pred GROUP BY lang_pred ORDER BY lang_pred
"""


def q_text_tokens(spark, sf_dir):
    """Tokenizer-efficiency audit: whitespace token count next to a BPE-ish
    pre-tokenizer count (letter runs / digit runs / single punctuation) and
    chars-per-token — the standard screen for binary junk and non-language
    content before tokenizer budgeting. Pure JVM regexp_count; the oracle
    recomputes the same counts with RE2."""
    d = _t(spark, sf_dir, "documents")
    out = textops.with_bpe_token_count(textops.with_token_count(d))
    return out.select(
        "doc_id", "n_tokens", "n_bpe_tokens", "chars_per_token"
    ).orderBy("doc_id")


ORACLE_TEXT_TOKENS = r"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(lower(trim(text)),
             '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
         length(lower(trim(text))) AS chars
  FROM documents
)
SELECT doc_id, n_tokens, n_bpe_tokens,
       ROUND(chars / CAST(NULLIF(n_bpe_tokens, 0) AS DOUBLE), 6) AS chars_per_token
FROM t ORDER BY doc_id
"""


# Planted PII rows for the scrub contract query (the synthetic corpus has
# none): union'd with the real documents so the redaction path is actually
# exercised — same planted-row pattern as dedup_embedding / multimodal.
PII_DOCS = [
    (
        900000001,
        "Contact me at john.doe+spam@example.com or visit "
        "https://example.com/a?b=c for details",
    ),
    (
        900000002,
        "server at 192.168.1.254 and 10.0.0.1 logged admin@test.org twice",
    ),
    (900000003, "no pii in this one at all"),
]


def q_text_scrub(spark, sf_dir):
    """PII redaction pass (URL -> <URL>, email -> <EMAIL>, IPv4 -> <IP>)
    with a masked-span count — the standard pre-training scrub. Pure JVM
    regexp chain, one projection, no shuffle; patterns restricted to the
    Java/RE2-identical subset so the DuckDB oracle replays the exact same
    replacement sequence."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = literal(spark, PII_DOCS, "doc_id long, text string")
    out = textops.with_pii_scrubbed(d.unionByName(planted))
    return out.select("doc_id", "scrubbed", "n_pii").orderBy("doc_id")


def _pii_values_sql() -> str:
    rows = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}')" for i, t in PII_DOCS
    )
    return f"SELECT * FROM (VALUES {rows}) AS v(doc_id, text)"


ORACLE_TEXT_SCRUB = r"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  {values}
), s1 AS (
  SELECT doc_id, lower(text) AS t FROM base
), s2 AS (
  SELECT doc_id,
         len(regexp_extract_all(t, 'https?://[^\s]+')) AS n1,
         regexp_replace(t, 'https?://[^\s]+', '<URL>', 'g') AS t1
  FROM s1
), s3 AS (
  SELECT doc_id,
         n1 + len(regexp_extract_all(t1,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{{2,}}')) AS n2,
         regexp_replace(t1, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{{2,}}',
             '<EMAIL>', 'g') AS t2
  FROM s2
), s4 AS (
  SELECT doc_id,
         n2 + len(regexp_extract_all(t2,
             '\b[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\b')) AS n_pii,
         regexp_replace(t2,
             '\b[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\b',
             '<IP>', 'g') AS scrubbed
  FROM s3
)
SELECT doc_id, scrubbed, CAST(n_pii AS BIGINT) AS n_pii FROM s4 ORDER BY doc_id
"""
ORACLE_TEXT_SCRUB = ORACLE_TEXT_SCRUB.format(values=_pii_values_sql())


def q_corpus_ngrams(spark, sf_dir):
    """Corpus-level n-gram document frequency, top 20: the vocabulary /
    boilerplate audit every corpus build runs. One explode + hash-groupBy
    with map-side partial aggregation; the top-k is a TakeOrdered (no
    global sort shuffle) with a total ordering (df desc, ngram asc) so the
    cut is deterministic."""
    d = _t(spark, sf_dir, "documents")
    sh = dedup.word_shingles(d, n=2)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .orderBy(F.col("df").desc(), F.col("shingle").asc())
        .limit(20)
        .select(F.col("shingle").alias("ngram"), "df")
    )


ORACLE_CORPUS_NGRAMS = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(lower(trim(text)), ' ')) AS tok,
         generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle
  FROM toks
  QUALIFY shingle IS NOT NULL
)
SELECT shingle AS ngram, COUNT(*) AS df
FROM sh GROUP BY shingle ORDER BY df DESC, ngram ASC LIMIT 20
"""


# Fixed training-mixture policy for the contract query: upsample nothing,
# keep all de/zh, downsample the dominant en. Arbitrary but pinned — the
# oracle mirrors it exactly.
SAMPLE_RATES = {"en": 0.5, "de": 1.0, "es": 0.25, "fr": 0.75, "zh": 1.0}


def q_docs_sample(spark, sf_dir):
    """Deterministic stratified sampling for training-data mixing: keep each
    document iff hash(doc_id)/2^60 < rate(lang) — a pure function of the
    key, so the sample is identical across retries, parallelism levels and
    engines (rand() is not), with inverse-probability weights for unbiased
    downstream aggregates. Map-only, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        d, SAMPLE_RATES, group_col="lang", default_rate=0.1
    ).select("doc_id", "lang", "sample_rate", "weight").orderBy("doc_id")


ORACLE_DOCS_SAMPLE = """
WITH s AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('zelph' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             / 1152921504606846976.0 AS u,
         CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                        WHEN 'es' THEN 0.25 WHEN 'fr' THEN 0.75
                        WHEN 'zh' THEN 1.0 ELSE 0.1 END AS DOUBLE) AS sample_rate
  FROM documents
)
SELECT doc_id, lang, sample_rate, ROUND(1.0 / sample_rate, 6) AS weight
FROM s WHERE u < sample_rate ORDER BY doc_id
"""


def q_sim_topk(spark, sf_dir):
    """Brute-force cosine top-5 (ids + rank only: float totals stay out of
    the hash compare; ranking ties broken by neighbor id)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 5)
    out = similarity.topk_bruteforce(emb, q, k=5)
    return out.select("query_id", "neighbor_id", F.col("rn").cast("bigint").alias("rn"))


ORACLE_SIM_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < 5
), e AS (
  SELECT vec_id AS neighbor_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nv
  FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, nv) /
           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))) AS cos
  FROM q, e WHERE query_id <> neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, rn FROM ranked WHERE rn <= 5
"""


def q_sim_lsh(spark, sf_dir):
    """Multi-table LSH ANN, oracle-recomputable: the hyperplanes are pure
    sin/cos arithmetic (similarity._hyperplane — no RNG state), so DuckDB
    rebuilds the same planes, buckets, candidate set and ranking. Vectors
    are cast to double on both sides and only ids + rank are emitted
    (float totals stay out of the hash, as in sim_topk); recall vs brute
    force stays measured in tests/test_ops.py."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 5)
    out = similarity.topk_lsh(emb, q, k=5, n_planes=8, n_tables=8)
    return out.select(
        "query_id", "neighbor_id", F.col("rn").cast("bigint").alias("rn")
    )


ORACLE_SIM_LSH = """
WITH planes AS (
  SELECT t.t, i.i,
         list(sin(0.7*(1000*t.t + i.i) + 0.311*j.j)
              + cos(1.3*(1000*t.t + i.i) - 0.17*j.j) ORDER BY j.j) AS plane
  FROM (SELECT unnest(range(8)) AS t) t,
       (SELECT unnest(range(8)) AS i) i,
       (SELECT unnest(range(64)) AS j) j
  GROUP BY t.t, i.i
), emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), buckets AS (
  SELECT e.vec_id, p.t AS tbl,
         SUM(CASE WHEN list_dot_product(e.v, p.plane) > 0
                  THEN (1::BIGINT << p.i) ELSE 0::BIGINT END) AS bucket
  FROM emb e CROSS JOIN planes p
  GROUP BY e.vec_id, p.t
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
  FROM buckets q JOIN buckets n ON q.tbl = n.tbl AND q.bucket = n.bucket
  WHERE q.vec_id < 5 AND q.vec_id <> n.vec_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
  FROM cand c
  JOIN emb a ON a.vec_id = c.query_id
  JOIN emb b ON b.vec_id = c.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, rn FROM ranked WHERE rn <= 5
"""


def q_sim_ivf(spark, sf_dir):
    """IVF-probed ANN top-5 through the real scale path
    (``similarity.topk_ivf``): disjoint cells from deterministic centroids
    (n smallest ids — seed-free), per-vector argmin as a map-side min(struct)
    aggregate, queries probe their 4 nearest of 16 cells, exact cosine
    verify inside the probed cells only. Fully DuckDB-recomputable because
    every step is pure double arithmetic in the same fold order. Ids + rank
    only (float totals stay out of the hash, as in sim_topk/sim_lsh).

    PRECONDITION (ADVICE r5, documented rather than patched — the oracle
    text is hash-frozen): no zero-norm vectors/centroids. A zero norm makes
    cosine NaN, which ranks first under the oracle's row_number(sim DESC)
    but last under the engine's min(struct) argmin; the formulations agree
    exactly while all norms are positive, which holds for every driver and
    test corpus (synthetic embeddings are unit-offset gaussians)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 5)
    out = similarity.topk_ivf(emb, q, k=5, n_centroids=16, nprobe=4)
    return out.select(
        "query_id", "neighbor_id", F.col("rn").cast("bigint").alias("rn")
    )


ORACLE_SIM_IVF = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cents AS (
  SELECT row_number() OVER (ORDER BY vec_id ASC) AS centroid_id, v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id ASC LIMIT 16)
), asg AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv)
                      / (sqrt(list_dot_product(e.v, e.v))
                         * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.centroid_id ASC) AS rnk
    FROM e CROSS JOIN cents c)
  WHERE rnk = 1
), probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT e.vec_id AS query_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv)
                      / (sqrt(list_dot_product(e.v, e.v))
                         * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.centroid_id ASC) AS pr
    FROM e CROSS JOIN cents c WHERE e.vec_id < 5)
  WHERE pr <= 4
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.v, a.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(a.v, a.v))), 6) AS cos
  FROM probes p
  JOIN asg a ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
  JOIN e q ON q.vec_id = p.query_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, rn FROM ranked WHERE rn <= 5
"""


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs through the REAL scale path
    (``similarity.embedding_near_dup_pairs``: multi-table LSH blocking in
    one numpy-matmul Arrow UDF + exact cosine verify). The driver corpus
    has no natural near-dups (max pairwise cos ~0.51), so the query plants
    deterministic ones: scaled copies (cos exactly 1, and scale-invariant
    bucketing guarantees blocking finds them) and vector-sum mixtures
    (non-trivial cos, where the deterministic sin/cos hyperplanes let
    DuckDB rebuild the SAME candidate blocking — a deterministic LSH miss
    is mirrored by the oracle, so the hash still matches)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    scaled = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    nxt = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("emb2")
    )
    mixed = (
        emb.filter(F.col("vec_id") < 25)
        .join(nxt, "vec_id")
        .select(
            (F.col("vec_id") + 200000).alias("vec_id"),
            F.zip_with("embedding", "emb2", lambda x, y: x * F.lit(3.0) + y).alias(
                "embedding"
            ),
        )
    )
    inp = emb.unionByName(scaled).unionByName(mixed)
    return similarity.embedding_near_dup_pairs(
        inp, threshold=0.8, n_planes=8, n_tables=4
    ).select("a", "b", "cos")


ORACLE_DEDUP_EMBEDDING = """
WITH emb0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), inp AS (
  SELECT vec_id, v FROM emb0
  UNION ALL
  SELECT vec_id + 100000, list_transform(v, x -> x * 2.0)
  FROM emb0 WHERE vec_id < 25
  UNION ALL
  SELECT a.vec_id + 200000,
         list_transform(list_zip(a.v, b.v), x -> x[1] * 3.0 + x[2])
  FROM emb0 a JOIN emb0 b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id < 25
), planes AS (
  SELECT t.t, i.i,
         list(sin(0.7*(1000*t.t + i.i) + 0.311*j.j)
              + cos(1.3*(1000*t.t + i.i) - 0.17*j.j) ORDER BY j.j) AS plane
  FROM (SELECT unnest(range(4)) AS t) t,
       (SELECT unnest(range(8)) AS i) i,
       (SELECT unnest(range(64)) AS j) j
  GROUP BY t.t, i.i
), buckets AS (
  SELECT e.vec_id, p.t AS tbl,
         SUM(CASE WHEN list_dot_product(e.v, p.plane) > 0
                  THEN (1::BIGINT << p.i) ELSE 0::BIGINT END) AS bucket
  FROM inp e CROSS JOIN planes p
  GROUP BY e.vec_id, p.t
), cand AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM buckets l JOIN buckets r ON l.tbl = r.tbl AND l.bucket = r.bucket
  WHERE l.vec_id < r.vec_id
), scored AS (
  SELECT c.a, c.b,
         ROUND(list_dot_product(x.v, y.v)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(y.v, y.v))), 6) AS cos
  FROM cand c
  JOIN inp x ON x.vec_id = c.a
  JOIN inp y ON y.vec_id = c.b
)
SELECT a, b, cos FROM scored WHERE cos >= 0.8
"""


def q_events_sessionize(spark, sf_dir):
    """Sessionization: 30-minute inactivity gap splits sessions per user."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = F.when(ep - F.lag(ep).over(w) > 1800, 1).otherwise(0)
    marked = e.withColumn("new_sess", gap)
    return (
        marked.groupBy("user_id")
        .agg(
            (F.sum("new_sess") + 1).cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .orderBy("user_id")
    )


ORACLE_EVENTS_SESSIONIZE = """
WITH marked AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - lag(epoch(ts))
              OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
)
SELECT user_id, CAST(SUM(new_sess) + 1 AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM marked GROUP BY user_id ORDER BY user_id
"""


def q_events_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


ORACLE_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""


def q_events_sessionize_stream(spark, sf_dir):
    """Streaming sessionization through the custom stateful operator
    (``streaming.stream_sessionize``: ``applyInPandasWithState`` with
    event-time timeouts) run in batch-incremental (availableNow) mode and
    made DETERMINISTIC for the gate: one sentinel event per user, 3 hours
    past the global max ts, closes every real session via the in-batch gap
    rule — no emission depends on watermark timing or no-data-batch
    behavior, and the sentinel's own open session is never emitted (its
    timeout stays above the final watermark). Output = one row per real
    session; DuckDB recomputes it with window functions."""
    import shutil
    import tempfile

    from zelph_spark import streaming

    e = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.lit("{}").alias("props"),
    )
    mx = e.agg(F.max("ts")).collect()[0][0]  # bounded: one row
    sentinels = (
        e.select("user_id")
        .distinct()
        .select(
            (F.lit(20_000_000) + F.col("user_id")).alias("event_id"),
            F.lit(mx + timedelta(hours=3)).alias("ts"),
            "user_id",
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    root = tempfile.mkdtemp(prefix="zelph_sess_stream_")
    try:
        landing = f"{root}/landing"
        e.unionByName(sentinels).write.parquet(landing)
        streaming.drain(
            streaming.stream_sessionize(
                spark, landing, f"{root}/out", f"{root}/ckpt",
                gap_s=1800, watermark="1 minute",
            )
        )
        out = spark.read.parquet(f"{root}/out").localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out.orderBy("user_id", "session_start")


# epoch()::BIGINT truncates to whole seconds exactly like the stream's
# state (and Spark's unix_timestamp) — the boundary comparison must run on
# the same truncation on both sides
ORACLE_EVENTS_SESSIONIZE_STREAM = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - lag(CAST(FLOOR(epoch(ts)) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       CAST(to_timestamp(MIN(sec)) AS TIMESTAMP) AS session_start,
       CAST(to_timestamp(MAX(sec)) AS TIMESTAMP) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start
"""


def q_multimodal_pipeline(spark, sf_dir):
    """Multimodal plumbing end-to-end through the REAL Arrow/mapInPandas
    operators (ops/multimodal.py): a deterministic media table is derived
    from the documents table (payload = sha256 hex of the ref, typed by
    doc_id mod 3), then decode_image (stub codec, feature vector),
    resize_plan (pure-columnar target dims) and sample_frames (one row per
    sampled timestamp) run over it and are folded to one row per media.
    The oracle recomputes everything structurally — schema, batch shape,
    pass-through rules, frame counts AND the feature hash math (feat0 is
    the first feature component, float32 on both sides, so any drift in
    the decode UDF's byte handling breaks parity)."""
    from zelph_spark.ops import multimodal as mm

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    ref = F.concat(F.lit("M"), F.col("doc_id").cast("string"))
    media = docs.select(
        ref.alias("media_ref"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("video/mp4"))
        .otherwise(F.lit("audio/wav"))
        .alias("media_type"),
        F.sha2(ref, 256).cast("binary").alias("content"),
        ((F.col("doc_id") * 37) % 512 + 16).cast("int").alias("width"),
        ((F.col("doc_id") * 53) % 512 + 16).cast("int").alias("height"),
        ((F.col("doc_id") * 97) % 60000).cast("int").alias("duration_ms"),
    )
    decoded = mm.decode_image(media).select(
        "media_ref",
        "decoder",
        F.when(
            F.col("decoder") == "stub-sha256",
            F.round(F.element_at("features", 1).cast("double"), 6),
        )
        .otherwise(F.lit(-1.0))
        .alias("feat0"),
    )
    resized = mm.resize_plan(media).select(
        "media_ref", "media_type", "width", "height",
        "target_width", "target_height",
    )
    frames = mm.sample_frames(media).groupBy("media_ref").agg(
        F.count(F.lit(1)).cast("int").alias("n_frames"),
        F.max("ts_ms").cast("int").alias("last_ts_ms"),
    )
    return (
        resized.join(decoded, "media_ref")
        .join(frames, "media_ref", "left")
        .select(
            "media_ref", "media_type", "width", "height",
            "target_width", "target_height", "decoder", "feat0",
            F.coalesce("n_frames", F.lit(0)).cast("int").alias("n_frames"),
            F.coalesce("last_ts_ms", F.lit(-1)).cast("int").alias("last_ts_ms"),
        )
    )


# feat0 parity: the stub decoder hashes the payload BYTES (= the utf-8 of
# the sha256 hex string, since content is that hex cast to binary) with
# sha256 and takes big-endian word 0 / 2^32 as float32 — DuckDB reproduces
# it as sha256(sha256(ref)) hex-prefix arithmetic, float32-cast both sides
ORACLE_MULTIMODAL = """
WITH media AS (
  SELECT concat('M', doc_id) AS media_ref,
         CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'video/mp4'
              ELSE 'audio/wav' END AS media_type,
         CAST((doc_id * 37) % 512 + 16 AS INTEGER) AS width,
         CAST((doc_id * 53) % 512 + 16 AS INTEGER) AS height,
         CAST((doc_id * 97) % 60000 AS INTEGER) AS duration_ms
  FROM documents
)
SELECT media_ref, media_type, width, height,
       CAST(ceil(width * least(1.0, 256.0 / greatest(width, height)))
            AS INTEGER) AS target_width,
       CAST(ceil(height * least(1.0, 256.0 / greatest(width, height)))
            AS INTEGER) AS target_height,
       CASE WHEN media_type = 'image/png' THEN 'stub-sha256'
            ELSE 'skip' END AS decoder,
       CASE WHEN media_type = 'image/png'
            THEN ROUND(CAST(CAST(concat('0x',
                     substr(sha256(sha256(media_ref)), 1, 8)) AS UBIGINT)
                     / 4294967296.0 AS REAL)::DOUBLE, 6)
            ELSE -1.0 END AS feat0,
       CASE WHEN media_type = 'video/mp4'
            THEN CAST(greatest(1, duration_ms // 1000) AS INTEGER)
            ELSE 0 END AS n_frames,
       CASE WHEN media_type = 'video/mp4'
            THEN CAST((greatest(1, duration_ms // 1000) - 1) * 1000 AS INTEGER)
            ELSE -1 END AS last_ts_ms
FROM media
"""


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: semi-naive fixpoint saturation of the taxonomy derived from
    sf0.001 (the zelph `.run` analog, SURVEY.md §3.2)."""
    return q_kg_reason_taxonomy(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_reason_taxonomy": q_kg_reason_taxonomy,
        "kg_closure": q_kg_closure,
        "kg_components": q_kg_components,
        "kg_symmetry": q_kg_symmetry,
        "kg_contradictions": q_kg_contradictions,
        "kg_entity_link": q_kg_entity_link,
        "kg_extract_roundtrip": q_kg_extract_roundtrip,
        "kg_statements": q_kg_statements,
        "kg_sparql": q_kg_sparql,
        "kg_sparql_subquery": q_kg_sparql_subquery,
        "kg_sparql_seq": q_kg_sparql_seq,
        "kg_sparql_cycle": q_kg_sparql_cycle,
        "kg_cluster_drop": q_kg_cluster_drop,
        "kg_degrees": q_kg_degrees,
        "kg_constraint_contradictions": q_kg_constraint_contradictions,
        "kg_disjointness": q_kg_disjointness,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_nation_revenue": q5_nation_revenue,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "dedup_winnow": q_dedup_winnow,
        "dedup_clusters": q_dedup_clusters,
        "dedup_embedding": q_dedup_embedding,
        "text_stats": q_text_stats,
        "text_langid": q_text_langid,
        "text_tokens": q_text_tokens,
        "text_scrub": q_text_scrub,
        "corpus_ngrams": q_corpus_ngrams,
        "docs_sample": q_docs_sample,
        "sim_topk": q_sim_topk,
        "sim_lsh": q_sim_lsh,
        "sim_ivf": q_sim_ivf,
        "events_sessionize": q_events_sessionize,
        "events_hourly": q_events_hourly,
        "events_sessionize_stream": q_events_sessionize_stream,
        "multimodal_pipeline": q_multimodal_pipeline,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "kg_reason_taxonomy": ORACLE_KG_REASON,
        "kg_closure": ORACLE_KG_CLOSURE,
        "kg_components": ORACLE_KG_COMPONENTS,
        "kg_symmetry": ORACLE_KG_SYMMETRY,
        "kg_contradictions": ORACLE_KG_CONTRADICTIONS,
        "kg_entity_link": ORACLE_KG_ENTITY_LINK,
        "kg_extract_roundtrip": ORACLE_KG_EXTRACT,
        "kg_statements": ORACLE_KG_STATEMENTS,
        "kg_sparql": ORACLE_KG_SPARQL,
        "kg_sparql_subquery": ORACLE_KG_SPARQL_SUBQUERY,
        "kg_sparql_seq": ORACLE_KG_SPARQL_SEQ,
        "kg_sparql_cycle": ORACLE_KG_SPARQL_CYCLE,
        "kg_cluster_drop": ORACLE_KG_CLUSTER_DROP,
        "kg_degrees": ORACLE_KG_DEGREES,
        "kg_constraint_contradictions": ORACLE_KG_CONSTRAINTS,
        "kg_disjointness": ORACLE_KG_DISJOINTNESS,
        "q1_pricing_summary": ORACLE_Q1,
        "q3_shipping_priority": ORACLE_Q3,
        "q5_nation_revenue": ORACLE_Q5,
        "dedup_exact": ORACLE_DEDUP_EXACT,
        "dedup_jaccard": ORACLE_DEDUP_JACCARD,
        "dedup_minhash": ORACLE_DEDUP_MINHASH,
        "text_stats": ORACLE_TEXT_STATS,
        "text_langid": ORACLE_TEXT_LANGID,
        "sim_topk": ORACLE_SIM_TOPK,
        "events_sessionize": ORACLE_EVENTS_SESSIONIZE,
        "events_hourly": ORACLE_EVENTS_HOURLY,
        "dedup_simhash": ORACLE_DEDUP_SIMHASH,
        "dedup_winnow": ORACLE_DEDUP_WINNOW,
        "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
        "text_tokens": ORACLE_TEXT_TOKENS,
        "text_scrub": ORACLE_TEXT_SCRUB,
        "corpus_ngrams": ORACLE_CORPUS_NGRAMS,
        "docs_sample": ORACLE_DOCS_SAMPLE,
        "dedup_embedding": ORACLE_DEDUP_EMBEDDING,
        "sim_lsh": ORACLE_SIM_LSH,
        "sim_ivf": ORACLE_SIM_IVF,
        "events_sessionize_stream": ORACLE_EVENTS_SESSIONIZE_STREAM,
        "multimodal_pipeline": ORACLE_MULTIMODAL,
    }
