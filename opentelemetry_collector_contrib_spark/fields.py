"""Field-path addressing over the flat log-record DataFrame.

The reference addresses record fields with a small path language —
``body``, ``attributes["k"]``, ``resource["k"]`` — implemented in
pkg/stanza/entry/field.go / body_field.go / attribute_field.go /
resource_field.go.  Here paths are dotted strings resolved to Spark
Column expressions; map-member writes compile to ``map_concat``
upserts (requires ``spark.sql.mapKeyDedupPolicy=LAST_WIN``, set in
session.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Columns holding open-schema MAP<STRING,STRING> data.  span_attributes /
# scope_attributes are the flat model's parent-span and instrumentation-
# scope maps reached from the spanevent context (span.attributes,
# instrumentation_scope.attributes — pkg/ottl/contexts/ottlspanevent/).
MAP_COLUMNS = ("attributes", "resource", "body_map", "span_attributes",
               "scope_attributes")


def split_path(path: str) -> tuple[str, str | None]:
    """``attributes.http.method`` -> ("attributes", "http.method").

    Only the first dot splits: map keys may themselves contain dots
    (semconv keys like ``http.method``), matching the reference where
    ``attributes["http.method"]`` is a single key.
    """
    for root in MAP_COLUMNS:
        if path == root:
            return root, None
        if path.startswith(root + "."):
            return root, path[len(root) + 1:]
    return path, None


def field_col(path: str) -> Column:
    """Resolve a path to a (string-typed for map members) Column."""
    root, key = split_path(path)
    if key is None:
        return F.col(root)
    return F.col(root).getItem(key)


def with_field(df: DataFrame, path: str, value: Column) -> DataFrame:
    """Upsert a field. Map members merge via map_concat (LAST_WIN)."""
    root, key = split_path(path)
    if key is None:
        return df.withColumn(root, value)
    base = F.coalesce(F.col(root), F.create_map().cast("map<string,string>")) \
        if root in df.columns else F.create_map().cast("map<string,string>")
    return df.withColumn(
        root, F.map_concat(base, F.create_map(F.lit(key), value.cast("string")))
    )


def merged_map(columns: list[str], root: str, new_map: Column) -> Column:
    """``root`` with a MAP<STRING,STRING> merged in (upsert per key), for
    a frame with ``columns``.

    NULL new maps leave the target untouched (parse-failure rows keep
    their original fields — on_error=send semantics,
    pkg/stanza/operator/helper/transformer.go:148-151).
    """
    base = F.coalesce(F.col(root), F.create_map().cast("map<string,string>")) \
        if root in columns else F.create_map().cast("map<string,string>")
    return F.when(new_map.isNull(), F.col(root) if root in columns else base) \
        .otherwise(F.map_concat(base, new_map))


def merge_map_into(df: DataFrame, root: str, new_map: Column) -> DataFrame:
    """Merge a MAP<STRING,STRING> column into ``root`` (see ``merged_map``)."""
    return df.withColumn(root, merged_map(df.columns, root, new_map))


def drop_field(df: DataFrame, path: str) -> DataFrame:
    """Delete a field (column drop or map-key removal)."""
    root, key = split_path(path)
    if key is None:
        return df.drop(root)
    return df.withColumn(
        root, F.map_filter(F.col(root), lambda k, _v: k != F.lit(key))
    )
