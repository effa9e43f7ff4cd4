"""Export sinks (SURVEY.md §2.1 S10/S11/S12/S13).

- taxonomy export: filtered closure -> JSON (S13,
  ``export_taxonomy_filtered.zph:1-13``) — ``df.write.json`` after a
  closure join;
- deduction / contradiction report (S12, ``markdown.cpp:1-363``,
  ``reasoning_deduce.cpp:311-331``): the result *tables* are the
  first-class artifact; the markdown rendering is a driver-side formatter
  over an already-aggregated (small) summary — never over raw rows;
- Mermaid HTML graph sink (S11, ``mermaid.cpp:485-572``
  ``gen_mermaid_html``): bounded-neighborhood extraction is distributed
  (iterative semi-joins with a per-node fan-out cap, the analog of the
  reference's ``max_depth``/``max_neighbors`` walk); only the capped
  subgraph reaches the driver for text rendering. The reference's 1.5k
  LoC of interactive-viewer JS is out of scope — the artifact here is the
  mermaid graph source (+ a minimal standalone HTML wrapper).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, functions as F

from ..closure import transitive_closure
from ..session import literal


def export_taxonomy_json(
    edges_slice: DataFrame, path: str, roots: list[str] | None = None
) -> None:
    """Closure of a per-predicate slice -> JSON lines (subj, obj). With
    ``roots``, only pairs reaching one of the root nodes are kept (the
    'filtered' variant of the reference script)."""
    clo = transitive_closure(edges_slice.select("subj", "obj"))
    if roots:
        clo = clo.filter(F.col("obj").isin(roots))
    clo.write.mode("overwrite").json(path)


def deduction_report(
    deduced: DataFrame,
    contradictions: DataFrame,
    path: str | None = None,
    top_n: int = 20,
) -> str:
    """Markdown summary of a reasoning run: per-predicate deduction counts +
    per-rule contradiction counts. Aggregation is distributed; only the
    top-n summary rows reach the driver."""
    ded = (
        deduced.groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pred"))
        .limit(top_n)
        .collect()
    )
    con = (
        contradictions.groupBy("rule_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("rule_id"))
        .limit(top_n)
        .collect()
    )
    lines = ["# Reasoning report", "", "## Deductions by predicate", ""]
    lines += ["| pred | facts |", "|---|---|"]
    lines += [f"| {r.pred} | {r.n} |" for r in ded]
    lines += ["", "## Contradictions by rule", "", "| rule | matches |", "|---|---|"]
    lines += [f"| {r.rule_id} | {r.n} |" for r in con]
    text = "\n".join(lines) + "\n"
    if path:
        Path(path).write_text(text)
    return text


def neighborhood(
    edges: DataFrame,
    focus: str,
    depth: int = 2,
    max_neighbors: int = 25,
) -> DataFrame:
    """Bounded-depth neighborhood of ``focus`` over (subj, pred, obj) edges
    (the traversal of ``collect_mermaid_nodes``, ``mermaid.cpp:485-552``):
    per round, edges touching the frontier are kept — capped at
    ``max_neighbors`` per frontier node by a window (the reference's
    placeholder cutoff) — and both endpoints join the next frontier.
    Depth and cap bound the result to ~O(max_neighbors^depth) rows, so the
    driver-side render stays small no matter the edge-table size."""
    from pyspark.sql import Window

    spark = edges.sparkSession
    frontier = literal(spark, [(focus,)], "node string")
    seen = frontier
    out = None
    for _ in range(depth):
        fwd = edges.join(
            F.broadcast(frontier.withColumnRenamed("node", "subj")), "subj"
        ).withColumn("_anchor", F.col("subj"))
        bwd = edges.join(
            F.broadcast(frontier.withColumnRenamed("node", "obj")), "obj"
        ).withColumn("_anchor", F.col("obj"))
        step = fwd.unionByName(bwd.select(fwd.columns))
        w = Window.partitionBy("_anchor").orderBy("pred", "subj", "obj")
        step = (
            step.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_neighbors)
            .select("subj", "pred", "obj")
            .dropDuplicates(["subj", "pred", "obj"])
            .localCheckpoint()
        )
        out = step if out is None else out.unionByName(step).dropDuplicates(
            ["subj", "pred", "obj"]
        )
        ends = step.select(F.col("subj").alias("node")).unionByName(
            step.select(F.col("obj").alias("node"))
        ).distinct()
        frontier = ends.join(seen, "node", "left_anti").localCheckpoint()
        seen = seen.unionByName(frontier)
        if frontier.isEmpty():
            break
    if out is None:
        out = edges.limit(0).select("subj", "pred", "obj")
    return out


def export_mermaid_html(
    edges: DataFrame,
    focus: str,
    path: str | None = None,
    depth: int = 2,
    max_neighbors: int = 25,
    names: dict[str, str] | None = None,
) -> str:
    """S11 Mermaid graph sink (``io::gen_mermaid_html``, mermaid.cpp:563):
    renders the capped neighborhood of ``focus`` as a mermaid ``graph LR``
    inside a minimal standalone HTML page (mermaid.js from its standard
    CDN; the reference instead bundles an interactive viewer). Returns the
    HTML text; writes it when ``path`` is given."""
    import html as _html

    rows = neighborhood(edges, focus, depth, max_neighbors).collect()
    names = names or {}

    def nid(n: str) -> str:
        # deterministic mermaid-safe identifier (builtin hash() is
        # per-process randomized)
        import hashlib

        return "n" + hashlib.md5(n.encode()).hexdigest()[:12]

    def label(n: str) -> str:
        # Labels come from public dump data (untrusted): HTML-escape so a
        # label cannot close the <pre> block and inject markup/script into
        # the exported page, on top of the mermaid quote sanitization.
        text = _html.escape(names.get(n, n), quote=False)
        return text.replace('"', "'")

    lines = ["graph LR"]
    nodes = {focus} | {r.subj for r in rows} | {r.obj for r in rows}
    for n in sorted(nodes):
        shape = ('(["%s"])' if n == focus else '["%s"]') % label(n)
        lines.append(f"    {nid(n)}{shape}")
    for r in sorted(rows, key=lambda r: (r.subj, r.pred, r.obj)):
        lines.append(f'    {nid(r.subj)} -->|"{label(r.pred)}"| {nid(r.obj)}')
    graph = "\n".join(lines)
    html = (
        "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"
        "<script type=\"module\">import mermaid from "
        "'https://cdn.jsdelivr.net/npm/mermaid@11/dist/mermaid.esm.min.mjs';"
        "mermaid.initialize({startOnLoad:true});</script></head>\n"
        "<body><pre class=\"mermaid\">\n" + graph + "\n</pre></body></html>\n"
    )
    if path:
        Path(path).write_text(html)
    return html
