"""Operator abstraction + pipeline compiler.

The reference builds a directed operator graph from config and starts
it in reverse topological order (pkg/stanza/pipeline/directed.go:29-67).
A linear Spark analog is a compiled chain of DataFrame
transformations: ``df.transform(op1).transform(op2)...`` — one
Catalyst plan, whole-stage codegen across operators.

An operator whose work is a fixed list of column expressions declares
it as *steps* (``Operator.steps``): ``compile_steps`` expands them
against the input column names into one projection per dependent
stage, so a caller that runs the same operators over many frames of
one shape builds their Columns once and reuses them.

on_error semantics (pkg/stanza/operator/helper/transformer.go:25-156):
``send``/``send_quiet`` forward the row unmodified on parse failure;
``drop``/``drop_quiet`` remove it. Failures are tracked in the
``_parse_error`` boolean column so obsreport-style refused counters
(pkg/stanza/adapter/receiver.go:54-64) can be observed before rows
are dropped.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ON_ERROR_MODES = ("send", "send_quiet", "drop", "drop_quiet")
PARSE_ERROR_COL = "_parse_error"

# One stage of column work: a dict sets each named column to its Column
# (replacing it in place or appending it, like ``withColumn``) or drops
# it (``None``); every expression reads the stage's input. A Column
# stage keeps the rows where it is true.
Step = Union[dict, Column]


@dataclass
class Operator:
    """A named, config-built DataFrame transformation.

    ``steps``, when set, maps input column names to the operator's
    stages; ``fn`` then applies exactly those stages.
    """

    op_type: str
    fn: Callable[[DataFrame], DataFrame]
    config: dict = field(default_factory=dict)
    steps: Callable[[list[str]], list[Step]] | None = None

    def apply(self, df: DataFrame) -> DataFrame:
        return self.fn(df)

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.fn(df)


def step_operator(op_type: str, steps: Callable[[list[str]], list[Step]],
                  config: dict) -> Operator:
    def fn(df: DataFrame) -> DataFrame:
        return compile_steps(df.columns, [steps])(df)

    return Operator(op_type, fn, config, steps)


def _quoted(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


def compile_steps(columns: list[str], steps: list) -> Callable[[DataFrame], DataFrame]:
    """Compile ``steps`` for a frame with ``columns`` into one function
    that applies them, one ``select`` (or ``filter``) per stage.

    An element of ``steps`` is a ``Step`` or a callable from the column
    names at that point to a list of Steps (``Operator.steps``). The
    Columns are built here, once: the returned function only hands them
    to Spark, so it can run over any number of frames with ``columns``.
    """
    cols = list(columns)
    stages: list = []
    pending = list(steps)
    while pending:
        step = pending.pop(0)
        if isinstance(step, Column):
            stages.append(step)
        elif isinstance(step, dict):
            kept = [c for c in cols if not (c in step and step[c] is None)]
            added = [n for n, v in step.items() if n not in cols and v is not None]
            stages.append([step[c].alias(c) if c in step else _quoted(c) for c in kept]
                          + [step[n].alias(n) for n in added])
            cols = kept + added
        else:
            pending[:0] = step(list(cols))

    def run(df: DataFrame) -> DataFrame:
        for stage in stages:
            df = df.filter(stage) if isinstance(stage, Column) else df.select(*stage)
        return df

    return run


def compile_pipeline(ops: list[Operator]) -> Callable[[DataFrame], DataFrame]:
    """Fuse an operator list into one DataFrame->DataFrame function.

    The result is a single lazy Catalyst plan — the analog of the
    stanza operator DAG, but optimized as one unit.
    """

    def run(df: DataFrame) -> DataFrame:
        for op in ops:
            df = op.apply(df)
        return df

    return run


def on_error_steps(columns: list[str], success: Column,
                   on_error: str = "send") -> tuple[dict, list[Step]]:
    """The on_error policy as steps: the ``_parse_error`` update, and
    the drop filter (empty under send modes); the filter reads only
    ``success``, so it may run before or after the update."""
    if on_error not in ON_ERROR_MODES:
        raise ValueError(f"on_error must be one of {ON_ERROR_MODES}: {on_error}")
    failed = ~F.coalesce(success, F.lit(False))
    seen = F.col(PARSE_ERROR_COL) if PARSE_ERROR_COL in columns else F.lit(False)
    return ({PARSE_ERROR_COL: seen | failed},
            [~failed] if on_error.startswith("drop") else [])


def apply_on_error(
    df: DataFrame, success: Column, on_error: str = "send"
) -> DataFrame:
    """Record/apply the on_error policy given a per-row success predicate.

    Rows where ``success`` is false/null are failures: under drop modes
    they are removed (after being counted into ``_parse_error`` by the
    caller's observe stage); under send modes they flow on unmodified.
    """
    flag, drop = on_error_steps(df.columns, success, on_error)
    df = df.withColumns(flag)
    return df.filter(drop[0]) if drop else df
