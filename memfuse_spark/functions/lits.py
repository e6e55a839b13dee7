"""Constant-array literal builders (guide §5 "the driver": query
CONSTRUCTION cost is driver latency the cluster never parallelizes).

``F.array(*[F.lit(x) for x in vals])`` issues one py4j round-trip per
element to build the plan — measured 56 ms per 64-element double array
and 522 ms per 1024-element long array on this box — and so does
``F.lit(list)`` (pyspark expands a plain list to exactly that form).
Parsing ONE SQL array literal string instead is a single py4j call:
measured 1.1 ms / 1.7 ms for the same arrays (~50x), and the resulting
``Literal`` is bit-identical — ``repr(float)`` is the shortest exact
round-trip representation and Spark's ``...D`` double literal parses via
Java ``Double.parseDouble`` to the same IEEE-754 bits (verified
bit-exact through a collect in round 11).

Non-finite values (inf/nan) have no SQL literal spelling — the builders
fall back to the per-element form for those rare frames (none of the
engine's constant arrays carry them in practice).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def f64_array_sql(vals: Sequence[float]) -> str:
    """SQL text of an ``array<double>`` literal for finite floats —
    for embedding into a larger one-parse expression (e.g. a cosine
    over a literal query vector)."""
    fv = [float(v) for v in vals]
    assert fv and all(math.isfinite(v) for v in fv)
    return "array(" + ",".join(repr(v) + "D" for v in fv) + ")"


def f64_array_lit(vals: Sequence[float]) -> Column:
    """One-call ``array<double>`` literal column for finite floats."""
    fv = [float(v) for v in vals]
    if not fv or not all(math.isfinite(v) for v in fv):
        return F.array(*[F.lit(v) for v in fv]).cast("array<double>")
    return F.expr(f64_array_sql(fv))


def i64_array_lit(vals: Sequence[int]) -> Column:
    """One-call ``array<bigint>`` literal column."""
    iv = [int(v) for v in vals]
    if not iv:
        return F.array().cast("array<bigint>")
    return F.expr("array(" + ",".join(str(v) + "L" for v in iv) + ")")


def sql_literal(v) -> str:
    """SQL text of one scalar literal: NULL, a bigint, a double (exact:
    ``repr`` + ``D`` as in :func:`f64_array_sql`) or a string."""
    if v is None:
        return "NULL"
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, float):
        if math.isfinite(v):
            return repr(v) + "D"
        name = {"inf": "Infinity", "-inf": "-Infinity", "nan": "NaN"}[repr(v)]
        return f"CAST('{name}' AS DOUBLE)"
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


def values_df(spark, rows: Sequence[Sequence], schema: Sequence[tuple[str, str]]):
    """A driver-side DataFrame of ``rows`` with columns ``(name, sql
    type)``, parsed from ONE ``VALUES`` statement, rows in the given
    order.

    The plan is a LocalRelation, so collecting it runs no Spark job:
    ~30 ms to build and collect ~160 rows on a 4-vCPU host (local[4]),
    where ``createDataFrame(rows)`` ships pickled rows through an RDD and
    took one job and 0.4-0.7 s. Add no ``orderBy`` on top: a sort over
    the relation is planned as 3 jobs.
    """
    cols = ", ".join(f"c{i}" for i in range(len(schema)))
    sel = ", ".join(f"CAST(c{i} AS {t}) AS `{n}`" for i, (n, t) in enumerate(schema))
    if rows:
        body = ", ".join("(" + ", ".join(map(sql_literal, r)) + ")" for r in rows)
        where = ""
    else:
        body = "(" + ", ".join("NULL" for _ in schema) + ")"
        where = " WHERE false"
    return spark.sql(f"SELECT {sel} FROM VALUES {body} AS v({cols}){where}")
