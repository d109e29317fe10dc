"""Relational operator surface (SURVEY.md §2.2 — categories the reference
lacks entirely: general joins, rich aggregation, windows, set ops).

Thin, typed wrappers over the DataFrame API. Deliberately thin: the point
is to *declare* the plan and let Catalyst/AQE pick physical strategies
(broadcast vs sort-merge, skew splitting, partial aggregation). The
wrappers add the engine's conventions: explicit broadcast for dims under a
size hint, deterministic ordering helpers, alias discipline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def join(
    left: DataFrame,
    right: DataFrame,
    on,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi/theta join; ``broadcast_right=True`` pins BroadcastHashJoin for
    known-small dims (otherwise Catalyst decides via AQE stats)."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on, how)


def aggregate(
    df: DataFrame, keys: list[str], aggs: dict[str, Column]
) -> DataFrame:
    """groupBy + aliased aggregates (alias discipline: every computed column
    is named, so results are oracle-comparable)."""
    exprs = [expr.alias(name) for name, expr in aggs.items()]
    return df.groupBy(*keys).agg(*exprs)


def union_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.unionByName(b)


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def having(df_grouped: DataFrame, predicate: Column) -> DataFrame:
    """Post-aggregation filter (HAVING) — a Filter above the final
    HashAggregate."""
    return df_grouped.filter(predicate)
