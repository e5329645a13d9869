"""Embedding-vector conventions shared by every exact-arithmetic
vector operator (PCA, k-means, centroid classification, truncation
recall) and their DuckDB oracles.

``micro_units`` is THE quantization: snap each component to integer
micro-units with round-half-away (``floor(x*1e6 + 0.5)``), mirrored
in SQL as ``CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)``. One
definition, imported everywhere, so the convention cannot drift
between operators and oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: micro-unit scale factor (also the SQL literal 1000000.0)
MICRO = 10**6


def micro_units(vec: Column, dim: int | None = None) -> Column:
    """array<long> of micro-unit components; ``dim`` truncates first
    (matryoshka-style) when given."""
    if dim is not None:
        vec = F.slice(vec, 1, dim)
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * 1000000.0 + F.lit(0.5))
        .cast("long"))


def micro_units_sql(col: str, dim: int | None = None) -> str:
    """:func:`micro_units` as Spark SQL text over the column (or SQL
    expression) ``col`` — the same expression tree, built by one
    ``F.expr``/``selectExpr`` call instead of one py4j-bound ``Column``
    call per node (see ``operators/pq.py``)."""
    vec = col if dim is None else f"slice({col}, 1, {int(dim)})"
    return (f"transform({vec}, "
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))")


#: the DuckDB twin of :func:`micro_units` (interpolate into oracles)
MICRO_UNITS_SQL = ("list_transform({col}::DOUBLE[], "
                   "x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))")
