"""Output checks. Each returns ``None`` when the output is right and a short
reason when it is not; a wrong output counts as a failed operation. Every
check runs outside the timed region.

- build and reason: the row count plus an order-insensitive digest of the
  committed result set, against values recorded from the parent commit
  that defined the benchmark. The synthetic corpus's seed only changes how
  each document is split into spans, so the graph is the same for every
  seed at a given ``n_docs``.
- contract: parity with DuckDB running the query's ``oracle_sql()`` text on
  the same generated tables.
"""

from __future__ import annotations

import math
from decimal import Decimal
from numbers import Number


def digest(df, cols: list[str]) -> tuple[int, int]:
    """(rows, sum of per-row xxhash64) over ``cols``; the sum is taken as
    an exact decimal, so it does not depend on row order or overflow."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def expect(name: str, got: tuple[int, int], want: tuple[int, int]) -> str | None:
    if got == want:
        return None
    return f"{name}: got rows={got[0]} digest={got[1]}, want rows={want[0]} digest={want[1]}"


# ---------------------------------------------------------------------------
# DuckDB parity
# ---------------------------------------------------------------------------

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _cell(v):
    """Numbers compare as floats within a tolerance, everything else as
    text; None and NaN are the same missing value."""
    if v is None:
        return None
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (Number, Decimal)) or hasattr(v, "dtype"):
        try:
            f = float(v)
        except (TypeError, ValueError):
            return str(v)
        return None if math.isnan(f) else f
    return str(v)


def _sort_key(row):
    # floats sort after rounding, so a last-digit difference between the
    # engines cannot reorder rows
    return tuple(
        (0, "") if c is None else (1, f"{c:.9g}") if isinstance(c, float) else (2, c)
        for c in row
    )


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    return a == b


def frames_match(got, want) -> str | None:
    """Compare two pandas frames as bags of rows: same column names (any
    order, any case), same row count, same values."""
    gcols = sorted(got.columns, key=str.lower)
    wcols = sorted(want.columns, key=str.lower)
    if [c.lower() for c in gcols] != [c.lower() for c in wcols]:
        return f"columns {gcols} vs {wcols}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    g = sorted((tuple(map(_cell, r)) for r in got[gcols].itertuples(index=False)), key=_sort_key)
    w = sorted((tuple(map(_cell, r)) for r in want[wcols].itertuples(index=False)), key=_sort_key)
    for i, (a, b) in enumerate(zip(g, w)):
        if len(a) != len(b) or not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} vs {b}"
    return None


class Oracle:
    """DuckDB views over the generated tables."""

    def __init__(self, tables_dir):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'"
            )

    def check(self, sql: str, got) -> str | None:
        return frames_match(got, self.con.sql(sql).df())

    def close(self) -> None:
        self.con.close()
