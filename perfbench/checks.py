"""Output checks: the benchmark's own forcing sink and comparison rules.

Catalog queries are forced through :func:`signature`, a one-row aggregate
over every output column, so projection-only plans cannot be pruned down
to a row count.  The exact columns of each row are serialised together
with ``to_json`` (so the position of a NULL counts) and hashed, and the
hashes are summed as ``decimal(38,0)``, which counts every row's
multiplicity and cannot overflow.  Float columns are summed instead,
because their last bits may move with the order of a parallel reduction.
:func:`same_signature` compares two signatures with a tolerance on the
float sums only.

Once per run, each query's full result is compared with its DuckDB
``oracle_sql()`` twin by :func:`oracle_mismatch`: order-insensitive,
NaN-safe, and blind to the sign of zero.
"""

from __future__ import annotations

import math

FLOAT_TYPES = ("float", "double")


def signature_frame(df):
    """The unevaluated one-row sink over ``df``."""
    from pyspark.sql import functions as F

    exact, sums = [], []
    for name, dtype in df.dtypes:
        c = F.col(f"`{name}`")
        if dtype in FLOAT_TYPES:
            sums.append(F.sum(c.cast("double")).alias(f"s{len(sums)}"))
            sums.append(F.count(c).alias(f"s{len(sums)}"))
        else:
            exact.append(c)
    aggs = [F.count(F.lit(1)).alias("n")]
    if exact:
        row = F.to_json(F.struct(*exact))
        aggs.append(F.sum(F.xxhash64(row).cast("decimal(38,0)")).alias("h"))
    return df.agg(*aggs, *sums)


def signature(df) -> tuple:
    """Force every output column of ``df``; return its signature."""
    return tuple(signature_frame(df).collect()[0])


def same_signature(a: tuple, b: tuple, rel: float = 1e-6) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) or isinstance(y, float):
            if x is None or y is None:
                if x is not y:
                    return False
            elif math.isnan(x) or math.isnan(y):
                if not (math.isnan(x) and math.isnan(y)):
                    return False
            elif not math.isclose(x, y, rel_tol=rel, abs_tol=rel):
                return False
        elif x != y:
            return False
    return True


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # -0.0 and 0.0 are one value in SQL
    return v


def _canon(rows, columns: list[str], order: list[str]) -> list[tuple]:
    idx = [columns.index(c) for c in order]
    return sorted(tuple(repr(_norm_cell(r[i])) for i in idx) for r in rows)


def oracle_mismatch(spark_rows, spark_cols, duck_rows, duck_cols) -> str | None:
    """``None`` when the two results hold the same multiset of rows under
    the same column names; otherwise a short description of the first
    difference."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns differ: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"row count differs: spark={len(spark_rows)} duck={len(duck_rows)}"
    order = sorted(spark_cols)
    s = _canon(spark_rows, list(spark_cols), order)
    d = _canon(duck_rows, list(duck_cols), order)
    for a, b in zip(s, d):
        if a != b:
            return f"first differing row: spark={a} duck={b}"
    return None
