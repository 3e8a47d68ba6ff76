"""Output checks, run outside the timed sections and read from outside
the program: DuckDB over the warehouse's parquet files and the schema
file each table keeps next to them, and the registry's DuckDB oracle SQL
over the corpus the operator rows read."""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os

import gen


def tables(warehouse: str) -> dict[str, dict]:
    """Per table of the benchmark dataset: rows, distinct ids, null ids
    and the top-level ``data`` field names in table order."""
    import duckdb
    from swarm_spark.sinks.table import SCHEMA_FILE

    out = {}
    con = duckdb.connect()
    try:
        for d in sorted(glob.glob(os.path.join(warehouse, gen.DATASET, "*"))):
            files = os.path.join(d, "**", "*.parquet")
            rows, ids, null_ids = con.execute(
                "SELECT count(*), count(DISTINCT id), count(*) - count(id) "
                f"FROM read_parquet('{files}', hive_partitioning = false)"
            ).fetchone()
            with open(os.path.join(d, SCHEMA_FILE), encoding="utf-8") as f:
                schema = json.load(f)
            data = next(x for x in schema["fields"] if x["name"] == "data")
            out[os.path.basename(d)] = {
                "rows": rows,
                "ids": ids,
                "null_ids": null_ids,
                "fields": [x["name"] for x in data["type"]["fields"]],
            }
    finally:
        con.close()
    return out


def compare(found: dict[str, dict], rows: dict[str, int], fields: dict[str, list[str]]) -> list[str]:
    """Problems found: a table's row count differs from what was sent,
    ids repeat or are missing, or its schema differs from the expected
    F6 merge."""
    errors = []
    if set(found) != set(rows):
        errors.append(f"tables {sorted(found)} != expected {sorted(rows)}")
    for t, want in sorted(rows.items()):
        got = found.get(t)
        if got is None:
            continue
        if got["rows"] != want:
            errors.append(f"{t}: {got['rows']} rows, expected {want}")
        if got["ids"] != got["rows"] or got["null_ids"]:
            errors.append(f"{t}: {got['ids']} distinct ids over {got['rows']} rows")
        if got["fields"] != fields[t]:
            errors.append(f"{t}: fields {got['fields']} != expected {fields[t]}")
    return errors


def merge_fields(current: list[str] | None, added: list[str]) -> list[str]:
    """F6 merge of one batch into a table's top-level fields: a new table
    takes the batch's fields as inference orders them; an existing one
    keeps its fields in place and appends the batch's new ones."""
    if current is None:
        return sorted(gen.BASE_FIELDS + added)
    return current + [f for f in added if f not in current]


def oracle_multiset(sf_dir: str, sql: str) -> list[tuple]:
    """The rows of a registry query's oracle SQL over ``sf_dir``'s
    documents table, as a multiset (see ``multiset``)."""
    import duckdb

    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        res = con.execute(sql)
        return multiset([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()


def multiset(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with their columns in name order and every value normalised,
    sorted: the order-insensitive form the oracle tests compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_normalize(r[i]) for i in order) for r in rows)


def _normalize(v) -> str:
    # the normalisation of tests/test_oracle.py
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.10g}"
    return str(v)
