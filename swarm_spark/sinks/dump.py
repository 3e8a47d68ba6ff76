"""Dry-run dump sink (operator W5).

Reference: ``--dry-run`` writes records as NDJSON to
``{dataset}.{table}.log`` and the schema to
``{dataset}.{table}.schema.json`` instead of touching BigQuery
(/root/reference/pkg/infra/dump/client.go:21-104). Same contract here,
with the NDJSON written by the distributed JSON writer (a directory of
part files rather than one file — same content, scale-safe).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..model import TableDest
from ..schema.merge import merge_schemas
from .base import Sink
from .table import counted_write, envelope_schema


class DumpSink(Sink):
    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        self._schemas: dict[tuple[str, str], T.StructType] = {}

    def _base(self, dest: TableDest) -> str:
        return os.path.join(self.out_dir, f"{dest.dataset}.{dest.table}")

    def ensure_table(self, dest: TableDest, data_schema: T.StructType) -> T.StructType:
        dest.validate()
        key = (dest.dataset, dest.table)
        if key in self._schemas:
            data_schema = merge_schemas(self._schemas[key], data_schema)
        self._schemas[key] = data_schema
        with open(self._base(dest) + ".schema.json", "w", encoding="utf-8") as f:
            json.dump(envelope_schema(data_schema).jsonValue(), f, indent=2)
        return data_schema

    def append(self, dest: TableDest, df: DataFrame) -> int:
        return counted_write(df, self._base(dest) + ".log", fmt="json")

    def read_table(self, dest: TableDest) -> DataFrame:
        with open(self._base(dest) + ".schema.json", encoding="utf-8") as f:
            schema = T.StructType.fromJson(json.load(f))
        return self.spark.read.schema(schema).json(self._base(dest) + ".log")
