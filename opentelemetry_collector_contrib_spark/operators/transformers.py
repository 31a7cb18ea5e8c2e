"""Field-edit operators (stanza transformers + OTTL editors).

References: pkg/stanza/operator/transformer/{add,copy,move,remove,
retain,flatten,assignkeys,unquote,regexreplace,noop}/transformer.go and
the OTTL editor registry pkg/ottl/ottlfuncs/functions.go:11-31.
All compile to native Column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.fields import (
    drop_field,
    field_col,
    split_path,
    with_field,
)
from opentelemetry_collector_contrib_spark.operators.base import Operator


def add(field: str, value: Column | str) -> Operator:
    """Upsert a field with a literal or expression value
    (transformer/add/transformer.go; OTTL set, ottlfuncs/func_set.go).
    String values starting with ``EXPR:`` are parsed as Spark SQL."""

    def fn(df: DataFrame) -> DataFrame:
        v = value
        if isinstance(v, str):
            v = F.expr(v[5:]) if v.startswith("EXPR:") else F.lit(v)
        return with_field(df, field, v)

    return Operator("add", fn, {"field": field})


def copy(from_field: str, to_field: str) -> Operator:
    """transformer/copy/transformer.go."""

    def fn(df: DataFrame) -> DataFrame:
        return with_field(df, to_field, field_col(from_field))

    return Operator("copy", fn, {"from": from_field, "to": to_field})


def move(from_field: str, to_field: str) -> Operator:
    """transformer/move/transformer.go — copy then delete source."""

    def fn(df: DataFrame) -> DataFrame:
        df = with_field(df, to_field, field_col(from_field))
        return drop_field(df, from_field)

    return Operator("move", fn, {"from": from_field, "to": to_field})


def remove(field: str) -> Operator:
    """transformer/remove/transformer.go; OTTL delete_key."""

    def fn(df: DataFrame) -> DataFrame:
        return drop_field(df, field)

    return Operator("remove", fn, {"field": field})


def retain(fields: list[str]) -> Operator:
    """transformer/retain/transformer.go; OTTL keep_keys — keep only the
    listed fields (top-level columns and/or map keys per map column)."""

    def fn(df: DataFrame) -> DataFrame:
        keep_cols = []
        keep_keys: dict[str, list[str]] = {}
        for f_ in fields:
            root, key = split_path(f_)
            if key is None:
                keep_cols.append(root)
            else:
                keep_keys.setdefault(root, []).append(key)
        out = df
        def keeper(lits):
            return lambda k, _v: F.array_contains(lits, k)

        for root, keys in keep_keys.items():
            lits = F.array(*[F.lit(k) for k in keys])
            out = out.withColumn(root, F.map_filter(F.col(root), keeper(lits)))
            keep_cols.append(root)
        return out.select(*[c for c in out.columns if c in keep_cols or c.startswith("_")])

    return Operator("retain", fn, {"fields": fields})


def delete_matching_keys(map_col: str, pattern: str, keep: bool = False) -> Operator:
    """OTTL delete_matching_keys / keep_matching_keys
    (ottlfuncs/func_delete_matching_keys.go, func_keep_matching_keys.go)."""

    def fn(df: DataFrame) -> DataFrame:
        if keep:
            pred = lambda k, _v: k.rlike(pattern)  # noqa: E731
        else:
            pred = lambda k, _v: ~k.rlike(pattern)  # noqa: E731
        return df.withColumn(map_col, F.map_filter(F.col(map_col), pred))

    return Operator("delete_matching_keys", fn, {"pattern": pattern})


def flatten(map_field: str, prefix: str = "") -> Operator:
    """Lift nested JSON-encoded map one level up
    (transformer/flatten/transformer.go; OTTL flatten).

    In the flat string-map model a nested value is a JSON object
    string; flatten parses it and merges its entries (prefixed) into
    the parent map, dropping the original key."""
    root, key = split_path(map_field)

    def fn(df: DataFrame) -> DataFrame:
        nested = F.from_json(field_col(map_field), "map<string,string>")
        prefixed = F.transform_keys(
            nested, lambda k, _v: F.concat(F.lit(prefix), k)
        ) if prefix else nested
        base = F.map_filter(F.col(root), lambda k, _v: k != F.lit(key))
        merged = F.when(nested.isNotNull(), F.map_concat(base, prefixed)) \
            .otherwise(F.col(root))
        return df.withColumn(root, merged)

    return Operator("flatten", fn, {"field": map_field})


def assign_keys(array_col: str, keys: list[str], parse_to: str = "attributes") -> Operator:
    """Zip a list value with names -> map
    (transformer/assignkeys/transformer.go)."""

    def fn(df: DataFrame) -> DataFrame:
        m = F.map_from_arrays(
            F.array(*[F.lit(k) for k in keys]),
            F.slice(F.col(array_col), 1, len(keys)),
        )
        from opentelemetry_collector_contrib_spark.fields import merge_map_into
        return merge_map_into(df, parse_to, m)

    return Operator("assign_keys", fn, {"keys": keys})


def unquote(field: str) -> Operator:
    """Strip one layer of quotes (transformer/unquote/transformer.go)."""

    def fn(df: DataFrame) -> DataFrame:
        c = field_col(field)
        stripped = F.when(
            c.rlike(r'^".*"$') | c.rlike(r"^'.*'$"),
            c.substr(F.lit(2), F.length(c) - 2),
        ).otherwise(c)
        return with_field(df, field, stripped)

    return Operator("unquote", fn, {"field": field})


def regex_replace(field: str, pattern: str, replacement: str) -> Operator:
    """transformer/regexreplace/transformer.go; OTTL replace_pattern."""

    def fn(df: DataFrame) -> DataFrame:
        return with_field(
            df, field, F.regexp_replace(field_col(field), pattern, replacement)
        )

    return Operator("regex_replace", fn, {"pattern": pattern})


def replace_all_patterns(map_col: str, pattern: str, replacement: str,
                         mode: str = "value") -> Operator:
    """OTTL replace_all_patterns (ottlfuncs/func_replace_all_patterns.go):
    regex-substitute every key or value of a map."""

    def fn(df: DataFrame) -> DataFrame:
        if mode == "value":
            out = F.transform_values(
                F.col(map_col), lambda _k, v: F.regexp_replace(v, pattern, replacement)
            )
        else:
            out = F.transform_keys(
                F.col(map_col), lambda k, _v: F.regexp_replace(k, pattern, replacement)
            )
        return df.withColumn(map_col, out)

    return Operator("replace_all_patterns", fn, {"pattern": pattern})


def truncate_all(map_col: str, limit: int) -> Operator:
    """OTTL truncate_all (ottlfuncs/func_truncate_all.go): cap every
    string value's length."""

    def fn(df: DataFrame) -> DataFrame:
        return df.withColumn(
            map_col,
            F.transform_values(F.col(map_col), lambda _k, v: F.substring(v, 1, limit)),
        )

    return Operator("truncate_all", fn, {"limit": limit})


def limit_keys(map_col: str, max_keys: int, priority_keys: list[str] | None = None) -> Operator:
    """OTTL limit (ottlfuncs/func_limit.go): cap map size, keeping
    priority keys first (deterministic: remaining keys sorted)."""
    prio = priority_keys or []

    def fn(df: DataFrame) -> DataFrame:
        entries = F.map_entries(F.col(map_col))
        prio_arr = F.array(*[F.lit(k) for k in prio]) if prio else F.array().cast("array<string>")
        ranked = F.sort_array(
            F.transform(
                entries,
                lambda e: F.struct(
                    F.when(F.array_contains(prio_arr, e.getField("key")),
                           F.array_position(prio_arr, e.getField("key")))
                    .otherwise(F.lit(10**9)).alias("rank"),
                    e.getField("key").alias("key"),
                    e.getField("value").alias("value"),
                ),
            )
        )
        capped = F.slice(ranked, 1, max_keys)
        return df.withColumn(
            map_col,
            F.map_from_entries(
                F.transform(capped, lambda e: F.struct(e.getField("key"), e.getField("value")))
            ),
        )

    return Operator("limit_keys", fn, {"max_keys": max_keys})


def merge_maps(to_col: str, from_col: str, strategy: str = "upsert") -> Operator:
    """OTTL merge_maps (ottlfuncs/func_merge_maps.go): upsert / insert /
    update strategies."""

    def fn(df: DataFrame) -> DataFrame:
        # map_concat(a, b) is NULL when EITHER side is NULL, which would
        # wipe the target map whenever the source map is absent; the
        # reference's merge_maps leaves the target untouched for a nil
        # source. Coalesce both sides to an empty map first.
        a = F.coalesce(F.col(to_col),
                       F.expr("map()").cast(df.schema[to_col].dataType.simpleString()))
        b = F.coalesce(F.col(from_col),
                       F.expr("map()").cast(df.schema[from_col].dataType.simpleString()))
        if strategy == "upsert":
            out = F.map_concat(a, b)  # LAST_WIN
        elif strategy == "insert":
            new_only = F.map_filter(b, lambda k, _v: ~F.map_contains_key(a, k))
            out = F.map_concat(a, new_only)
        elif strategy == "update":
            upd = F.map_filter(b, lambda k, _v: F.map_contains_key(a, k))
            out = F.map_concat(a, upd)
        else:
            raise ValueError(strategy)
        return df.withColumn(to_col, out)

    return Operator("merge_maps", fn, {"strategy": strategy})


def noop() -> Operator:
    return Operator("noop", lambda df: df, {})
