"""Benchmark inputs, made from the seed.

Two kinds:

- the spans corpus of ``datagen.synthetic_corpus``, written to parquet;
- the ten driver tables (region ... embeddings) that ``__spark_entry__``
  queries read, generated here with numpy to match the repository's
  sf0.01 test data column by column (README.md records the comparison).
  The benchmark cannot read test data from outside its checkout, so it
  makes its own.

Both are published the same way: written into ``<dir>.tmp`` and renamed
into place, under a path keyed by what was generated (``n_docs`` and seed,
or scale and seed). A directory is therefore either absent or complete: an
aborted generation cannot leave an empty directory behind that a later
reader mistakes for a corpus (which failed with ``UNABLE_TO_INFER_SCHEMA``).
"""

from __future__ import annotations

import shutil
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def publish(final: Path, write) -> Path:
    """Run ``write(tmp_dir)`` and rename the directory to ``final`` once it
    returns. An earlier ``final`` is replaced."""
    tmp = final.with_name(final.name + ".tmp")
    for d in (tmp, final):
        if d.exists():
            shutil.rmtree(d)
    tmp.mkdir(parents=True)
    write(tmp)
    tmp.rename(final)
    return final


def corpus_dir(root: Path, n_docs: int, seed: int) -> Path:
    return root / f"corpus-n{n_docs}-s{seed}"


def make_corpus(spark, root: Path, n_docs: int, seed: int) -> Path:
    from zelph_spark import datagen

    def write(tmp: Path) -> None:
        datagen.synthetic_corpus(spark, n_docs, seed=seed).write.parquet(
            str(tmp / "docs")
        )

    return publish(corpus_dir(root, n_docs, seed), write)


# ---------------------------------------------------------------------------
# driver tables
# ---------------------------------------------------------------------------

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "green", "bright"]
PART_NOUN = ["ring", "widget", "plate", "rod", "bolt", "gear", "pipe", "cap"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, base: str, n: int, span: int) -> np.ndarray:
    return np.datetime64(base, "us") + rng.integers(0, span, n).astype(
        "timedelta64[D]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def driver_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """The ten tables at ``scale`` (1.0 = TPC-H sf1 row counts for the
    relational tables; sf0.01 gives 1,500 customers and 60,000 line items).
    Documents and embeddings keep the test data's 500 rows at sf0.01."""
    rng = np.random.default_rng(seed)
    n_cust, n_ord = int(150_000 * scale), int(1_500_000 * scale)
    n_line, n_part = int(6_000_000 * scale), int(200_000 * scale)
    n_supp, n_ev = max(10, int(10_000 * scale)), int(1_000_000 * scale)
    n_docs = max(50, int(50_000 * scale))

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", n_ord, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", n_line, 2499),
    })
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_docs)
    emb = rng.normal(size=(n_docs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_docs),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_docs).astype(np.int32),
    })
    return t


def _documents(rng, n: int) -> pa.Table:
    """Texts of 10 to 99 words drawn from a 30-word vocabulary. One doc in
    twenty, chosen at random, is replaced by another doc's text plus the
    word ``dup``, so the dedup queries have near-duplicate pairs (and the
    odd ``dup dup`` chain) as in the test data."""
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 100, n)]
    for i in np.sort(rng.choice(n, n // 20, replace=False)):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": np.arange(n),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def tables_dir(root: Path, scale: float, seed: int) -> Path:
    return root / f"tables-sf{scale:g}-s{seed}"


def make_tables(root: Path, scale: float, seed: int) -> Path:
    def write(tmp: Path) -> None:
        for name, table in driver_tables(scale, seed).items():
            pq.write_table(table, tmp / f"{name}.parquet")

    return publish(tables_dir(root, scale, seed), write)
