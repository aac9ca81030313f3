"""Relational operators — the layer the reference lacks (SURVEY §2.4).

The reference has no filters, joins, aggregations, windows, sorts,
limits, set ops, or scalar function library; its architecture is a
single linear pipeline. This module exposes all of them as spec
``type:`` tags compiling to plain DataFrame calls, so Catalyst supplies
pushdown, pruning, join selection, AQE, and codegen.

Scale notes baked into each operator:
- ``join`` takes ``broadcast: true`` to pin the small side JVM-side
  (skips the shuffle entirely), and ``salt: N`` for manual skew-salting
  of hot keys (AQE skew-join handles the automatic case).
- ``aggregate`` is a hash aggregate with map-side partial aggregation
  by construction (Catalyst always plans partial+final for algebraic
  aggregates) — no option needed, stated here so reviewers know it.
- ``topk`` compiles to window row_number + filter, which Spark executes
  as a per-partition sort with pushed limit rather than a global sort.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..registry import SOURCES, register_processor, lookup


def _resolve_other(df: DataFrame, other: dict) -> DataFrame:
    """A nested source (or source+processors sub-spec) for binary ops."""
    spark = df.sparkSession
    if "input" in other:  # nested sub-pipeline
        from ..spec import Spec, compile_spec

        sub = Spec(input=other["input"], processors=other.get("processors", []), output={"type": "memory"})
        sub_df, _ = compile_spec(spark, sub)
        return sub_df
    factory, conf = lookup(SOURCES, "source", other)
    return factory(spark, **conf)


@register_processor("sql")
def sql_processor(df: DataFrame, query: str, view: str = "input") -> DataFrame:
    """Arbitrary SQL over the incoming frame registered as ``view``."""
    df.createOrReplaceTempView(view)
    return df.sparkSession.sql(query)


@register_processor("filter")
def filter_processor(df: DataFrame, predicate: str) -> DataFrame:
    return df.filter(predicate)


@register_processor("select")
def select_processor(df: DataFrame, columns: list[str]) -> DataFrame:
    """Projection; entries are SQL expressions (``expr AS name`` allowed)."""
    return df.selectExpr(*columns)


@register_processor("with_column")
def with_column(df: DataFrame, name: str, expr: str) -> DataFrame:
    return df.withColumn(name, F.expr(expr))


@register_processor("join")
def join_processor(
    df: DataFrame,
    other: dict,
    on: list[str] | str | None = None,
    condition: str | None = None,
    how: str = "inner",
    broadcast: bool = False,
    salt: int = 0,
) -> DataFrame:
    right = _resolve_other(df, other)
    if broadcast:
        right = F.broadcast(right)
    if salt and on and not broadcast:
        # Manual skew salting: replicate the right side `salt` ways and
        # scatter the left's hot keys across replicas. Used when a key's
        # row count exceeds one task's memory and AQE's split is not
        # available (e.g. non-shuffle-file stages).
        #
        # Only inner/left-shaped joins are salt-compatible: an
        # unmatched RIGHT row exists `salt` times in the replicated
        # frame and no replica matches, so right/full outer would emit
        # `salt` null-padded copies of it. Refuse rather than
        # duplicate.
        if how not in ("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"):
            raise ValueError(
                f"salt is incompatible with how={how!r}: unmatched "
                "right rows would be emitted salt times (use AQE skew "
                "handling for right/full outer joins)"
            )
        if condition is not None:
            raise ValueError("salt requires key-based `on`, not `condition`")
        on_cols = [on] if isinstance(on, str) else list(on)
        left = df.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
        right = right.withColumn("__salts", F.sequence(F.lit(0), F.lit(salt - 1))).withColumn(
            "__salt", F.explode("__salts")
        ).drop("__salts")
        joined = left.join(right, on_cols + ["__salt"], how)
        return joined.drop("__salt")
    if condition is not None:
        return df.join(right, F.expr(condition), how)
    return df.join(right, on, how)


_SORT_KEY = re.compile(
    r"^\s*(?P<expr>\S.*?)(?:\s+(?P<dir>ASC|DESC))?"
    r"(?:\s+NULLS\s+(?P<nulls>FIRST|LAST))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _sort_key(df: DataFrame, spec: str) -> Column:
    """One ``order_by``/``by`` entry — ``<expr> [ASC|DESC] [NULLS
    FIRST|LAST]``, the SQL sort-key grammar — as a sort Column.

    ``F.expr`` cannot take the direction: ``F.expr("v DESC")`` parses
    as the ALIAS ``v AS DESC`` and sorts ascending without a word. So
    the direction and null order are split off here, and an expression
    that still parses as an alias (``"v descending"``, ``"v AS x"``) is
    refused instead of silently sorting by ``v`` ascending."""
    m = _SORT_KEY.match(spec)
    if m is None:
        raise ValueError(f"empty sort key {spec!r}")
    expr = m["expr"]
    parser = df.sparkSession._jsparkSession.sessionState().sqlParser()
    if parser.parseExpression(expr).getClass().getSimpleName() == "Alias":
        raise ValueError(
            f"sort key {spec!r}: expected <expr> [ASC|DESC] [NULLS FIRST|LAST]"
        )
    desc = (m["dir"] or "asc").lower() == "desc"
    # SQL defaults: ASC sorts NULLs first, DESC sorts them last
    nulls_first = (m["nulls"] or ("last" if desc else "first")).lower() == "first"
    c = F.expr(expr)
    if desc:
        return c.desc_nulls_first() if nulls_first else c.desc_nulls_last()
    return c.asc_nulls_first() if nulls_first else c.asc_nulls_last()


@register_processor("aggregate")
def aggregate_processor(
    df: DataFrame,
    group_by: list[str] | None = None,
    aggs: list[str] | None = None,
    rollup: bool = False,
    cube: bool = False,
) -> DataFrame:
    """``aggs`` are SQL aggregate expressions with aliases."""
    exprs = [F.expr(a) for a in (aggs or [])]
    keys = group_by or []
    if cube:
        grouped = df.cube(*keys)
    elif rollup:
        grouped = df.rollup(*keys)
    else:
        grouped = df.groupBy(*keys)
    return grouped.agg(*exprs)


@register_processor("window")
def window_processor(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    exprs: dict[str, str],
    rows_between: list | None = None,
    range_between: list | None = None,
) -> DataFrame:
    """Analytic window functions. ``exprs`` maps output column → SQL
    window function (without the OVER clause)."""
    w = Window.partitionBy(*partition_by).orderBy(*[_sort_key(df, o) for o in order_by])

    def _bound(b):
        return {
            "unbounded_preceding": Window.unboundedPreceding,
            "unbounded_following": Window.unboundedFollowing,
            "current_row": Window.currentRow,
        }.get(b, b)

    if rows_between:
        w = w.rowsBetween(_bound(rows_between[0]), _bound(rows_between[1]))
    elif range_between:
        w = w.rangeBetween(_bound(range_between[0]), _bound(range_between[1]))
    out = df
    for name, fn in exprs.items():
        out = out.withColumn(name, F.expr(fn).over(w))
    return out


@register_processor("topk")
def topk_processor(
    df: DataFrame, partition_by: list[str], order_by: list[str], k: int, dense: bool = False
) -> DataFrame:
    """Top-K per group: the canonical window + filter plan.

    At scale this is strictly better than global sort+limit per group:
    each partition sorts locally and the filter prunes early.
    """
    fn = F.dense_rank() if dense else F.row_number()
    w = Window.partitionBy(*partition_by).orderBy(*[_sort_key(df, o) for o in order_by])
    return df.withColumn("__rk", fn.over(w)).filter(F.col("__rk") <= k).drop("__rk")


@register_processor("sort")
def sort_processor(df: DataFrame, by: list[str]) -> DataFrame:
    return df.orderBy(*[_sort_key(df, b) for b in by])


@register_processor("limit")
def limit_processor(df: DataFrame, n: int) -> DataFrame:
    return df.limit(n)


@register_processor("distinct")
def distinct_processor(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    return df.dropDuplicates(columns) if columns else df.distinct()


@register_processor("union")
def union_processor(df: DataFrame, other: dict, by_name: bool = True) -> DataFrame:
    right = _resolve_other(df, other)
    return df.unionByName(right) if by_name else df.union(right)


@register_processor("intersect")
def intersect_processor(df: DataFrame, other: dict, all: bool = False) -> DataFrame:
    right = _resolve_other(df, other)
    return df.intersectAll(right) if all else df.intersect(right)


@register_processor("except")
def except_processor(df: DataFrame, other: dict, all: bool = False) -> DataFrame:
    right = _resolve_other(df, other)
    return df.exceptAll(right) if all else df.subtract(right)


@register_processor("repartition")
def repartition_processor(
    df: DataFrame, n: int | None = None, by: list[str] | None = None, range: bool = False
) -> DataFrame:
    cols = [F.col(c) for c in (by or [])]
    if range:
        return df.repartitionByRange(n, *cols) if n else df.repartitionByRange(*cols)
    if n and cols:
        return df.repartition(n, *cols)
    if cols:
        return df.repartition(*cols)
    return df.repartition(n) if n else df
