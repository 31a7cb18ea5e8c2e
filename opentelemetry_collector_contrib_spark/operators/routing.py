"""Routing connector: ordered first-match-wins multi-way fan-out.

Reference: connector/routingconnector/logs.go:62-107 — ordered route
table; each route has a condition; matched rows are MOVED out of the
stream (first-match-wins); the remainder goes to ``default``; a row
whose condition errors goes to default (logs.go:93-98).

Spark shape: ONE pass — a chained ``when()`` produces a sink tag
column (when-chains short-circuit per row exactly like
first-match-wins); per-sink consumers filter on the tag or the writer
partitions by it. No data is duplicated and no shuffle is introduced
by tagging itself.

A condition that errors per-row yields NULL in Spark; NULL is not
`true`, so the row falls through to later routes and ultimately the
default — matching the reference's error->default behavior.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.base import Operator

DEFAULT_SINK = "default"
SINK_COL = "sink"


@dataclass
class Route:
    condition: str | Column
    sink: str


def _cond(expr: str | Column) -> Column:
    return F.expr(expr) if isinstance(expr, str) else expr


def route_tag_expr(routes: list[Route], default: str = DEFAULT_SINK) -> Column:
    expr = None
    for r in routes:
        c = F.coalesce(_cond(r.condition), F.lit(False))
        expr = F.when(c, F.lit(r.sink)) if expr is None else expr.when(c, F.lit(r.sink))
    if expr is None:
        return F.lit(default)
    return expr.otherwise(F.lit(default))


def router(routes: list[Route], default: str = DEFAULT_SINK,
           tag_col: str = SINK_COL) -> Operator:
    """Tag every row with its first matching route's sink."""

    def fn(df: DataFrame) -> DataFrame:
        return df.withColumn(tag_col, route_tag_expr(routes, default))

    return Operator("router", fn, {"n_routes": len(routes)})


def failover_write(df, sink_fns: list, logger=None) -> int:
    """failover connector (connector/failoverconnector/): try sinks in
    priority order; first success wins. ``sink_fns`` are callables
    ``df -> None`` (writers); returns the index that succeeded.

    Batch semantics: the whole frame goes to one healthy sink (the
    reference fails over per batch, not per row).
    """
    last_err: Exception | None = None
    for i, write in enumerate(sink_fns):
        try:
            write(df)
            return i
        except Exception as e:  # noqa: BLE001 - failover must catch all
            last_err = e
            if logger:
                logger.warning("sink %d failed: %s", i, e)
    raise RuntimeError("all sinks failed") from last_err
