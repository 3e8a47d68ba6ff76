"""Null/empty stripping (operator T1).

Semantics pinned by the reference's table-driven tests
(/root/reference/pkg/usecase/utils_test.go:11-85, impl
pkg/usecase/utils.go:14-154):

- map entries whose value is null are dropped;
- nulls inside lists are dropped (list keeps remaining order);
- empty lists and empty maps are dropped from their parent map;
- nested cleaning happens first, so a map that becomes empty after its
  null-valued entries are removed is itself dropped — EXCEPT a map that
  contained only nulls still appears as ``{}`` one level up (fixture F7:
  ``{"nested": {"sub": null}}`` → ``{"nested": {}}``) because the drop
  decision uses the *original* emptiness, not the post-clean one.

Two implementations:
- :func:`strip_record` — driver-side, for plain decoded-JSON records
  (unit-test parity + the canonical-id path);
- DataFrame-side equivalents for schema inference: drop columns that
  carry no typed information anywhere in the frame (all-null, or
  always-empty arrays/structs), which is what per-record stripping
  achieves before per-record inference+merge in the reference
  (pkg/usecase/load.go:222-241). :func:`strip_void_columns` (top-level
  columns) and :func:`strip_struct_column` (one struct column) each run
  one aggregation; :func:`profile_struct_column` runs that same
  aggregation grouped, so one job yields the keep-set of every
  destination in a batch, and :func:`strip_struct` turns a keep-set into
  the projection and its type without another job.
"""

from __future__ import annotations

from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T


def strip_record(value: Any) -> Any:
    """Deep-copy ``value`` dropping nils/empties per reference semantics.

    Returns the cleaned value. A top-level scalar (incl. None) is
    returned unchanged; dropping only happens inside containers.
    """
    if isinstance(value, dict):
        out = {}
        for k, v in value.items():
            if v is None:
                continue
            if isinstance(v, (dict, list)) and len(v) == 0:
                continue
            out[k] = strip_record(v)
        return out
    if isinstance(value, list):
        return [strip_record(v) for v in value if v is not None]
    return value


class StructProfile(NamedTuple):
    """One group of a :func:`profile_struct_column` pass: the group's
    ``by`` values, its row count, and the dotted paths of the struct's
    leaves that carry typed information in at least one of its rows."""

    key: tuple
    rows: int
    keep: frozenset[str]


def _nonvoid_count(col: Column, dtype: T.DataType) -> Column:
    """Count of rows where this column carries typed information."""
    if isinstance(dtype, T.ArrayType):
        return F.count(F.when(col.isNotNull() & (F.size(col) > 0), 1))
    return F.count(col)


def _leaves(schema: T.StructType, prefix: str = "") -> list[tuple[str, T.DataType]]:
    """The non-struct fields of ``schema`` at any depth, as dotted paths."""
    out: list[tuple[str, T.DataType]] = []
    for f in schema.fields:
        path = f"{prefix}{f.name}"
        if isinstance(f.dataType, T.StructType):
            out.extend(_leaves(f.dataType, prefix=path + "."))
        else:
            out.append((path, f.dataType))
    return out


def _profile(
    df: DataFrame, leaves: list[tuple[str, T.DataType]], by: tuple[str, ...] = ()
) -> list[tuple[Row, frozenset[str]]]:
    """THE one aggregation: per group of ``by`` (a single global group
    when empty) the row count ``_rows`` and a non-void count per leaf,
    in one job however many groups and leaves there are. Returns each
    group's row with the set of leaf paths that are not void in it."""
    rows = (
        df.groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("_rows"),
            *[_nonvoid_count(F.col(p), d).alias(f"_c{i}") for i, (p, d) in enumerate(leaves)],
        )
        .collect()
    )
    return [
        (r, frozenset(p for i, (p, _) in enumerate(leaves) if r[f"_c{i}"] > 0))
        for r in rows
    ]


def _rebuild(
    schema: T.StructType, prefix: str, keep: frozenset[str], nullable: bool
) -> tuple[list[Column], T.StructType] | None:
    """Projection of ``schema`` (reached at ``prefix``) without the
    leaves outside ``keep``, with the type Spark's analysis gives it:
    a kept leaf is nullable when it or any struct above it is, and a
    rebuilt ``struct(...)`` is itself never null. None when nothing is
    kept."""
    cols: list[Column] = []
    fields: list[T.StructField] = []
    for f in schema.fields:
        path = f"{prefix}{f.name}"
        if isinstance(f.dataType, T.StructType):
            sub = _rebuild(f.dataType, path + ".", keep, nullable or f.nullable)
            if sub:
                cols.append(F.struct(*sub[0]).alias(f.name))
                fields.append(T.StructField(f.name, sub[1], False))
        elif path in keep:
            cols.append(F.col(path).alias(f.name))
            fields.append(T.StructField(f.name, f.dataType, nullable or f.nullable))
    return (cols, T.StructType(fields)) if cols else None


def strip_void_columns(df: DataFrame) -> DataFrame:
    """Drop columns (recursively) that are void across the whole frame.

    A column is void when every row is null — or, for arrays, null or
    empty. A struct is void when all of its fields are void. One
    aggregation pass computes all counts (single job, no per-column
    scans), then the frame is re-projected without the void columns.
    This is the DataFrame analogue of per-record ``cloneWithoutNil``
    feeding schema inference.
    """
    leaves = _leaves(df.schema)
    if not leaves:
        return df
    [(_, keep)] = _profile(df, leaves)
    rebuilt = _rebuild(df.schema, "", keep, False)
    if rebuilt is None:
        raise ValueError("all columns are void after stripping")
    return df.select(*rebuilt[0])


def profile_struct_column(
    df: DataFrame, col: str = "data", by: tuple[str, ...] = ()
) -> list[StructProfile]:
    """Row count and keep-set of the struct column ``col`` per group of
    ``by``, from one aggregation job. The ingest path profiles every
    destination of a batch at once with ``by=("dataset", "table",
    "partition")``; a group's keep-set is exactly what
    :func:`strip_struct_column` would compute on that group's slice."""
    dtype = df.schema[col].dataType
    if not isinstance(dtype, T.StructType):
        raise TypeError(f"{col} is not a struct")
    return [
        StructProfile(tuple(r[k] for k in by), r["_rows"], keep)
        for r, keep in _profile(df, _leaves(dtype, col + "."), by)
    ]


def strip_struct(
    col: str, field: T.StructField, keep: frozenset[str]
) -> tuple[Column, T.StructType]:
    """The struct column ``col`` (schema ``field``) rebuilt without the
    leaves outside ``keep`` (a :class:`StructProfile` keep-set), and the
    type the rebuilt column has — derived here, so a caller needs no
    Spark analysis to learn it. A null row stays null. A struct with no
    leaves at all is returned as it is."""
    dtype = field.dataType
    if not _leaves(dtype):
        return F.col(col), dtype
    rebuilt = _rebuild(dtype, col + ".", keep, field.nullable)
    if rebuilt is None:
        raise ValueError(f"struct column {col!r} is entirely void")
    inner, stripped = rebuilt
    return F.when(F.col(col).isNull(), F.lit(None)).otherwise(F.struct(*inner)), stripped


def strip_struct_column(df: DataFrame, col: str = "data") -> DataFrame:
    """Rebuild one struct column without its void nested fields, leaving
    every other column untouched (used on the rule-output ``data``
    struct before inference/evolution)."""
    field = df.schema[col]
    if not isinstance(field.dataType, T.StructType):
        raise TypeError(f"{col} is not a struct")
    if not _leaves(field.dataType):
        return df
    [profile] = profile_struct_column(df, col)
    rebuilt, _ = strip_struct(col, field, profile.keep)
    others = [F.col(c) for c in df.columns if c != col]
    return df.select(*others, rebuilt.alias(col))
