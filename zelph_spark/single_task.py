"""One bounded single-task runner for the numpy graph kernels.

Closure (SURVEY.md §2.5 C1-C4) and components (§2.2 F11) become numpy
kernels when their whole input fits one task: the driver-scheduled rounds
of shuffles collapse into one ``mapInPandas`` task that densifies the ids,
runs the kernel and maps the result back. Every kernel call site goes
through :func:`run_single_task`, which owns the three ways such a fast path
declines: mismatched id types, null ids, and inputs over ``LOCAL_ROWS``
(sized in one agg job), plus the kernel's own ``OverflowError``, which is
reported as data so no task fails and nothing is retried. The caller then
runs its distributed plan, the only plan at 100 TB scale.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, functions as F, types as T

# summed rows over every input of one call
LOCAL_ROWS = 2_000_000
_CHUNK = 1_000_000


def run_single_task(inputs: list[DataFrame], kernel, columns: list[str]):
    """Run ``kernel`` over all of ``inputs`` in one task.

    Every column of every input is an id column, all of one type.
    ``kernel(codes, n)`` gets, per input, a tuple of int64 code arrays (one
    per column, row-aligned) over ``n`` distinct ids; code order is id
    order (factorize ``sort=True``), so min code == min id. It returns one
    code array per output column in ``columns``, or raises
    ``OverflowError(reason)``.

    Returns ``(checkpointed DataFrame, rows per input)``, or ``(None,
    reason)`` with reason ``"types"``, ``"nulls"``, ``"budget"`` or the
    kernel's overflow reason.
    """
    types = {f.dataType for df in inputs for f in df.schema.fields}
    if len(types) != 1:
        return None, "types"
    (id_t,) = types
    widths = [len(df.columns) for df in inputs]
    width = max(widths)
    cols = [f"_c{j}" for j in range(width)]
    # one union needs one width: short inputs repeat their last column
    # (null padding would turn a long column into float64 inside the task)
    tagged = reduce(
        DataFrame.union,
        (
            df.select(
                F.lit(i).alias("_k"),
                *(F.col(df.columns[min(j, w - 1)]).alias(c)
                  for j, c in enumerate(cols)),
            )
            for i, (df, w) in enumerate(zip(inputs, widths))
        ),
    )
    any_null = reduce(lambda a, b: a | b, (F.col(c).isNull() for c in cols))
    row = tagged.agg(
        *(F.count(F.when(F.col("_k") == i, 1)) for i in range(len(inputs))),
        F.count(F.when(any_null, 1)),
    ).collect()[0]
    sizes, nulls = list(row[:-1]), row[-1]
    if nulls:
        return None, "nulls"
    if sum(sizes) > LOCAL_ROWS:
        return None, "budget"

    def task(batches):
        import numpy as np
        import pandas as pd

        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        rows = [pdf[pdf["_k"] == i] for i in range(len(widths))]
        codes, uniques = pd.factorize(
            pd.concat(
                [r[c] for r, w in zip(rows, widths) for c in cols[:w]],
                ignore_index=True,
            ),
            sort=True,
        )
        codes = codes.astype(np.int64)
        split, at = [], 0
        for r, w in zip(rows, widths):
            m = len(r)
            split.append(tuple(codes[at + j * m : at + (j + 1) * m]
                               for j in range(w)))
            at += w * m
        try:
            res = kernel(split, len(uniques))
        except OverflowError as e:
            yield pd.DataFrame(
                {c: pd.Series([None], dtype=object) for c in columns}
                | {"_overflow": [str(e)]}
            )
            return
        out = pd.DataFrame(
            {c: uniques.take(a) for c, a in zip(columns, res)}
        )
        out["_overflow"] = None
        for i in range(0, len(out), _CHUNK):
            yield out.iloc[i : i + _CHUNK]

    schema = T.StructType(
        [T.StructField(c, id_t) for c in columns]
        + [T.StructField("_overflow", T.StringType())]
    )
    obs = Observation()
    # repartition, not coalesce: coalesce(1) would collapse the upstream
    # scan to one task too
    result = (
        tagged.repartition(1)
        .mapInPandas(task, schema=schema)
        .observe(obs, F.max("_overflow").alias("overflow"))
        .where(F.col("_overflow").isNull())
        .select(*columns)
        .localCheckpoint()
    )
    overflow = obs.get["overflow"]
    if overflow is not None:
        return None, overflow
    return result, sizes
