"""Neural / approximate rule conditions (SURVEY.md §2.9 N1-N3).

zelph stores synapse weights in the sparse edge-weight side store
(``network.hpp:581-673``), compiles them into a small dense net
(``neural.hpp:51-90``), and lets ``≈`` rule conditions consult it during
unification — guard mode verifies candidate bindings with a confidence,
generator mode proposes bindings above a threshold, and the confidence
multiplies into the deduced fact's probability
(``reasoning_neural.cpp:1-311``, ``reasoning_deduce.cpp:256-261``).

The Spark lowering is the scored-candidate pattern: the model is SMALL
(node-pair scorer), so weights are a broadcast numpy array; scoring is an
Arrow-batched pandas UDF over the candidate DataFrame (vectorized forward
pass, no per-row Python); thresholding is a ``where``; the deduced ``prob``
is the product of condition confidences. Training (N2: forward / SGD /
write-back) is distributed full-batch gradient descent: the gradient is an
aggregation over the data, the tiny weight vector round-trips the driver
per epoch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from ..session import literal


def _sigmoid(z):
    return 1.0 / (1.0 + np.exp(-z))


def make_scorer(weights: np.ndarray, bias: float = 0.0):
    """Broadcastable batch scorer: features array<double> -> confidence in
    [0,1]. The closure captures the (small) weights; Spark ships it with the
    serialized UDF — the broadcast-weights pattern."""
    w = np.asarray(weights, dtype="float64")
    b = float(bias)

    @pandas_udf("double")
    def score(feats: pd.Series) -> pd.Series:
        mat = np.vstack(feats.to_numpy())
        return pd.Series(_sigmoid(mat @ w + b))

    return score


def score_candidates(
    candidates: DataFrame,
    feature_col: str,
    weights: np.ndarray,
    bias: float = 0.0,
    threshold: float = 0.5,
    confidence_col: str = "confidence",
) -> DataFrame:
    """Guard/generator mode of an ``≈`` condition: score every candidate,
    keep those above threshold (reasoning_neural.cpp generator semantics).
    Downstream deduction multiplies ``confidence`` into the fact prob."""
    scorer = make_scorer(weights, bias)
    return candidates.withColumn(
        confidence_col, scorer(F.col(feature_col))
    ).filter(F.col(confidence_col) > threshold)


def combine_confidences(*cols: Column) -> Column:
    """Deduced fact probability = product of the condition confidences
    (reasoning_deduce.cpp:256-261)."""
    out = F.lit(1.0)
    for c in cols:
        out = out * c
    return out


def layer_members(edges: DataFrame, layer, partof_pred="in") -> list:
    """Members of a layer: subjects of (neuron partof layer) facts, ordered
    ascending — the canonical neuron order (``neural.cpp:78-85``)."""
    rows = (
        edges.filter((F.col("pred") == partof_pred) & (F.col("obj") == layer))
        .select("subj")
        .distinct()
        .collect()
    )
    return sorted(r.subj for r in rows)


class GraphNet:
    """N1: a dense net compiled FROM GRAPH TOPOLOGY (``neural.hpp:51-90``,
    ``neural.cpp:87-154``): layer membership comes from (neuron partof
    layer) facts in the edge DataFrame, mask and initial weights exclusively
    from the synapse store (a (a, b, w) DataFrame — the relational form of
    the ``network.hpp:581-673`` weight side store; synapses are invisible to
    reasoning by construction, they never enter the edge table).

    The compiled net is SMALL and dense (like the reference's in-memory
    matrices); the DISTRIBUTED parts are the graph queries that define it
    (membership + synapse lookups) and :meth:`batch_eval`, which scores a
    whole DataFrame of multi-hot samples through one vectorized pandas UDF.
    Forward/backward mirror the reference exactly: ReLU hidden layers,
    linear output, 0.5*d^2 loss, only masked (existing-synapse) weights
    trainable (``neural.cpp:156-226``)."""

    def __init__(self, nodes, w, mask):
        self._nodes = nodes  # list[list[node]]
        self._w = w  # list[np.ndarray (n_post, n_pre)]
        self._mask = mask
        self._index = [{n: i for i, n in enumerate(layer)} for layer in nodes]

    @classmethod
    def compile(cls, edges: DataFrame, synapses: DataFrame, layers: list,
                partof_pred="in") -> "GraphNet":
        if len(layers) < 2:
            raise ValueError("GraphNet.compile: need at least input + output layer")
        nodes = []
        for layer in layers:
            members = layer_members(edges, layer, partof_pred)
            if not members:
                raise ValueError(
                    f"GraphNet.compile: layer {layer!r} has no members "
                    "(expected (neuron partof layer) facts)"
                )
            nodes.append(members)
        # one collect per layer pair, restricted to that pair's members —
        # synapse rows between consecutive layers are tiny by construction
        w, mask = [], []
        for pre, post in zip(nodes, nodes[1:]):
            rows = (
                synapses.filter(
                    F.col("a").isin(list(pre)) & F.col("b").isin(list(post))
                )
                .select("a", "b", "w")
                .collect()
            )
            wm = np.zeros((len(post), len(pre)))
            mm = np.zeros((len(post), len(pre)), dtype=np.uint8)
            pre_i = {n: i for i, n in enumerate(pre)}
            post_i = {n: j for j, n in enumerate(post)}
            for r in rows:
                j, i = post_i[r.b], pre_i[r.a]
                # canonical fallback weight is 1 (probability semantics,
                # network.hpp:668-673)
                wm[j, i] = 1.0 if r.w is None else float(r.w)
                mm[j, i] = 1
            w.append(wm)
            mask.append(mm)
        return cls(nodes, w, mask)

    @property
    def layer_count(self):
        return len(self._nodes)

    def layer_nodes(self, layer: int):
        return list(self._nodes[layer])

    def has_node(self, layer: int, n) -> bool:
        return n in self._index[layer]

    def _run_forward(self, x: np.ndarray) -> list[np.ndarray]:
        act = [np.asarray(x, dtype=float)]
        for k, wm in enumerate(self._w):
            z = wm @ act[-1]
            act.append(z if k == len(self._w) - 1 else np.maximum(0.0, z))
        return act

    def forward(self, x) -> np.ndarray:
        return self._run_forward(x)[-1]

    def train_step(self, x, target, lr: float) -> float:
        act = self._run_forward(x)
        out = act[-1]
        delta = out - np.asarray(target, dtype=float)
        loss = float(0.5 * (delta @ delta))
        for k in range(len(self._w) - 1, -1, -1):
            pre = act[k]
            prev_delta = self._w[k].T @ delta  # pre-update weights
            self._w[k] -= lr * self._mask[k] * np.outer(delta, pre)
            if k > 0:
                prev_delta[act[k] <= 0.0] = 0.0  # ReLU derivative
                delta = prev_delta
        return loss

    def encode(self, layer: int, active) -> np.ndarray:
        """Multi-hot encoding of (node, activation) pairs (neural.hpp:72-80)."""
        x = np.zeros(len(self._nodes[layer]))
        for n, a in active:
            if n not in self._index[layer]:
                raise ValueError(f"node {n!r} is not a member of layer {layer}")
            x[self._index[layer][n]] = a
        return x

    def train_nodes(self, input_pairs, target_pairs, lr: float) -> float:
        return self.train_step(
            self.encode(0, input_pairs),
            self.encode(len(self._nodes) - 1, target_pairs),
            lr,
        )

    def eval_nodes(self, input_pairs) -> list[tuple]:
        out = self.forward(self.encode(0, input_pairs))
        return list(zip(self._nodes[-1], out.tolist()))

    def write_back(self, spark) -> DataFrame:
        """Masked weights -> synapse-store rows (neural.cpp write_back): the
        caller merges these into its synapse table (idempotent upsert on
        (a, b) — the MERGE INTO shape on a cluster)."""
        rows = []
        for k, wm in enumerate(self._w):
            pre, post = self._nodes[k], self._nodes[k + 1]
            m = self._mask[k]
            for j in range(len(post)):
                for i in range(len(pre)):
                    if m[j, i]:
                        rows.append((pre[i], post[j], float(wm[j, i])))
        return literal(spark, rows, "a string, b string, w double")

    def batch_eval(self, df: DataFrame, input_col: str,
                   out_col: str = "scores") -> DataFrame:
        """Distributed scoring: forward-pass a whole DataFrame of input-layer
        activation vectors (array<double>) through one Arrow-batched UDF —
        the weights broadcast with the closure."""
        ws = [w.copy() for w in self._w]
        n_layers = len(ws)

        def _fwd(v: pd.Series) -> pd.Series:
            mat = np.vstack(v.to_numpy()).astype(np.float64)
            for k, wm in enumerate(ws):
                mat = mat @ wm.T
                if k < n_layers - 1:
                    mat = np.maximum(0.0, mat)
            return pd.Series(list(mat))

        fwd = pandas_udf(_fwd, "array<double>")
        return df.withColumn(out_col, fwd(F.col(input_col)))


def train_logreg(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    dim: int,
    lr: float = 1.0,
    epochs: int = 20,
) -> tuple[np.ndarray, float]:
    """Distributed full-batch logistic-regression training (the SGD
    write-back loop of N2): per epoch one aggregation job computes the exact
    gradient; only the dim+1 weight vector moves through the driver."""
    w = np.zeros(dim)
    b = 0.0
    n = df.count()
    for _ in range(epochs):
        scorer = make_scorer(w, b)
        g = (
            df.withColumn("_p", scorer(F.col(feature_col)))
            .withColumn("_err", F.col("_p") - F.col(label_col).cast("double"))
            .select(
                F.array(
                    *[
                        F.sum(F.col("_err") * F.col(feature_col)[i])
                        for i in range(dim)
                    ]
                ).alias("gw"),
                F.sum("_err").alias("gb"),
            )
            .first()
        )
        w = w - lr * np.array(g.gw) / n
        b = b - lr * g.gb / n
    return w, b
