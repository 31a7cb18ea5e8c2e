"""coralogix processor: transaction attributes from the span tree.

The reference (processor/coralogixprocessor/internal/transactions/
trasactions.go:17-75, span_tree.go:19-81) groups spans by trace,
builds the parent/child tree, and walks it from the root assigning
each span a *transaction* — the name of its nearest "boundary"
ancestor, where a boundary is the trace root or any SERVER/CONSUMER
span (a new entry point into the system).  Boundary spans get
``cgx.transaction = <own name>`` and ``cgx.transaction.root = true``;
interior spans inherit ``cgx.transaction`` from their parent and get
no root flag.

Root selection (span_tree.go:24-66):
- spans with an EMPTY parent id are root candidates; with several,
  the earliest start timestamp wins (the Go loop replaces only on
  strictly-earlier, so ties keep the first seen — we tie-break on
  input order, which is the same rule made deterministic);
- losing candidates are "orphaned": they stay detached, the walk
  never reaches them, and they receive NO attributes;
- with no empty-parent span at all, the earliest span overall becomes
  root (the Go fallback iterates a map, so its tie-break is
  nondeterministic; we again use input order);
- the chosen root is never attached as a child even if its parent id
  resolves (span_tree.go:69-70), so parent-id cycles cannot trap the
  walk;
- spans whose parent id is absent from the trace are unreachable and
  keep their attributes untouched.

One quirk mirrored exactly (trasactions.go:55-57): a child that
ALREADY carries the ``cgx.transaction.root`` attribute — any value —
is treated as a boundary for its subtree (the walk continues with its
name) but the child itself is NOT rewritten: neither its transaction
nor its root flag is touched.

Spark shape: ONE shuffle — repartition on the trace key +
sortWithinPartitions so each trace is contiguous, then ``mapInPandas``
walks MANY traces per Arrow batch (a per-trace ``applyInPandas`` pays
one Arrow exchange per group; with thousands of small traces the
batched walk amortizes that overhead ~5x, measured at sf0.1).  A
trace straddling two Arrow chunks is carried into the next chunk, so
the walk always sees whole traces.  Per-trace work is bounded by trace
size, which the reference itself requires to fit in memory (it buffers
whole traces per ptrace.Traces batch).  The decision is pure
per-trace, so at 100 TB the only cost that grows is the shuffle on the
trace key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

TRANSACTION_IDENTIFIER = "cgx_transaction"
TRANSACTION_IDENTIFIER_ROOT = "cgx_transaction_root"

# boundary kinds (trasactions.go:58): SERVER and CONSUMER spans open a
# new transaction.  Kind columns in this repo are lowercase strings;
# accept the OTLP enum spelling too.
_BOUNDARY_KINDS = {"server", "consumer",
                   "span_kind_server", "span_kind_consumer"}


def coralogix_transactions(spans: DataFrame,
                           trace_col: str = "trace_id",
                           span_id_col: str = "span_id",
                           parent_col: str = "parent_span_id",
                           name_col: str = "name",
                           kind_col: str = "kind",
                           ts_col: str = "start_ts",
                           order_col: str | None = None) -> DataFrame:
    """Annotate spans with ``cgx_transaction`` / ``cgx_transaction_root``.

    Adds two nullable columns (null = "attribute not set", matching
    the reference's attribute-absence semantics): ``cgx_transaction``
    (string) and ``cgx_transaction_root`` (boolean, true only on
    boundary spans).  If the input already has a
    ``cgx_transaction_root`` column, non-null values mark pre-existing
    roots (trasactions.go:55-57) and those rows pass through
    unrewritten.

    ``order_col`` stands in for the reference's arrival order in the
    root tie-breaks; a batch frame has no stable row order, so when
    omitted, ties (same ``ts_col``) break on ``span_id_col`` — equally
    deterministic, and the reference's own no-root tie-break is map-
    order nondeterministic anyway.
    """
    import pandas as pd

    pre_rooted = TRANSACTION_IDENTIFIER_ROOT in spans.columns
    if TRANSACTION_IDENTIFIER in spans.columns:
        raise ValueError(
            f"coralogix_transactions: input already has a "
            f"{TRANSACTION_IDENTIFIER!r} column")

    from pyspark.sql import functions as F

    ord_key = order_col if order_col is not None else span_id_col
    work = (spans.repartition(F.col(trace_col))
            .sortWithinPartitions(trace_col, ord_key))
    out_fields = [f for f in spans.schema.fields
                  if f.name != TRANSACTION_IDENTIFIER_ROOT]
    schema = T.StructType(
        out_fields
        + [T.StructField(TRANSACTION_IDENTIFIER, T.StringType(), True),
           T.StructField(TRANSACTION_IDENTIFIER_ROOT,
                         T.BooleanType(), True)])
    out_cols = [f.name for f in schema.fields]

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ord_key, kind="stable").reset_index(drop=True)
        n = len(pdf)
        sid = pdf[span_id_col].tolist()
        parent = pdf[parent_col].tolist()
        names = pdf[name_col].tolist()
        kinds = [("" if k is None else str(k)).lower()
                 for k in pdf[kind_col].tolist()]
        ts = pdf[ts_col].tolist()
        prior_root = (pdf[TRANSACTION_IDENTIFIER_ROOT].tolist()
                      if pre_rooted else [None] * n)
        by_id = {}
        for i in range(n):
            by_id.setdefault(sid[i], i)

        def is_empty(p) -> bool:
            return p is None or (isinstance(p, float) and pd.isna(p)) \
                or p == ""

        root_cands = [i for i in range(n) if is_empty(parent[i])]
        pool = root_cands if root_cands else range(n)
        root = min(pool, key=lambda i: (ts[i], i), default=None)

        txn = [None] * n
        flag = [None] * n
        if root is not None:
            children: dict[int, list[int]] = {}
            for i in range(n):
                if i == root:
                    continue
                p = parent[i]
                if not is_empty(p) and p in by_id:
                    children.setdefault(by_id[p], []).append(i)
            txn[root] = names[root]
            flag[root] = True
            stack = [(root, names[root])]
            while stack:
                node, tname = stack.pop()
                for c in children.get(node, ()):
                    if prior_root[c] is not None:
                        # pre-existing root attr: subtree boundary,
                        # child itself untouched
                        stack.append((c, names[c]))
                    elif kinds[c] in _BOUNDARY_KINDS:
                        txn[c] = names[c]
                        flag[c] = True
                        stack.append((c, names[c]))
                    else:
                        txn[c] = tname
                        stack.append((c, tname))
        if pre_rooted:
            flag = [prior_root[i] if prior_root[i] is not None else flag[i]
                    for i in range(n)]
        res = pdf.drop(columns=(
            [TRANSACTION_IDENTIFIER_ROOT] if pre_rooted else []))
        res[TRANSACTION_IDENTIFIER] = pd.array(txn, dtype=object)
        res[TRANSACTION_IDENTIFIER_ROOT] = pd.array(flag, dtype=object)
        return res[out_cols]

    def process(batches):
        # these closures pickle by value and name no module-level engine
        # function, so nothing else makes the worker import the package
        # and its zipimport patch (package __init__)
        import opentelemetry_collector_contrib_spark  # noqa: F401

        # traces are contiguous within a partition; a trace split
        # across Arrow chunks is carried into the next chunk
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            last_tid = pdf[trace_col].iloc[-1]
            mask = pdf[trace_col] == last_tid
            carry = pdf[mask]
            rest = pdf[~mask]
            if len(rest):
                yield pd.concat(
                    [walk(g) for _, g in
                     rest.groupby(trace_col, sort=False)],
                    ignore_index=True)
        if carry is not None and len(carry):
            yield pd.concat(
                [walk(g) for _, g in
                 carry.groupby(trace_col, sort=False)],
                ignore_index=True)

    return work.mapInPandas(process, schema)
