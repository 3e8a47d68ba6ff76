"""BigQuery sink (operators W1-W4 behind the connector, Q4 via client).

Same :class:`~swarm_spark.sinks.base.Sink` contract as the local
warehouse:

- ``ensure_table`` (Q4) runs against the ``google-cloud-bigquery``
  client (injectable for tests): get table → create with the envelope
  schema + time partitioning on ``timestamp`` if absent
  (reference pkg/usecase/bigquery.go:15-45), else strict
  :func:`~swarm_spark.schema.merge.merge_schemas` of the stored
  ``data`` struct with the batch's and an ``update_table`` — the
  client sends the table's ETag as If-Match, giving the same
  compare-and-swap the reference does explicitly
  (pkg/infra/bq/client.go:197-213);
- ``append`` (W1/W2) goes through the public spark-bigquery-connector
  (``writeMethod=direct`` Storage Write API) wrapped in
  :func:`~swarm_spark.sinks.retry.with_backoff`; the jar is probed
  lazily so schema-only use needs no connector;
- writer multiplexing/chunking (W3/W4, 256-row chunks, pool 32) is
  connector-internal on Spark — task parallelism replaces the
  reference's goroutine pools.

Neither the client library nor the jar ships in this image, so both
integration points are import/classpath-gated; the schema logic itself
is real and unit-tested against a mock client.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..model import ModelError, TableDest, TimeUnit
from ..schema.merge import merge_schemas, schemas_equal
from .base import Sink
from .retry import with_backoff
from .table import envelope_schema


class BigQuerySinkUnavailable(RuntimeError):
    pass


# ------------------------------------------------ schema conversion
_SPARK_TO_BQ = {
    T.StringType: "STRING",
    T.LongType: "INT64",
    T.IntegerType: "INT64",
    T.ShortType: "INT64",
    T.ByteType: "INT64",
    T.DoubleType: "FLOAT64",
    T.FloatType: "FLOAT64",
    T.BooleanType: "BOOL",
    T.TimestampType: "TIMESTAMP",
    T.DateType: "DATE",
    T.BinaryType: "BYTES",
}
_BQ_TO_SPARK = {
    "STRING": T.StringType(),
    "INT64": T.LongType(),
    "INTEGER": T.LongType(),
    "FLOAT64": T.DoubleType(),
    "FLOAT": T.DoubleType(),
    "BOOL": T.BooleanType(),
    "BOOLEAN": T.BooleanType(),
    "TIMESTAMP": T.TimestampType(),
    "DATE": T.DateType(),
    "BYTES": T.BinaryType(),
}


def spark_field_to_api(field: T.StructField) -> dict:
    """Spark StructField → BigQuery SchemaField API representation."""
    dt, mode = field.dataType, "NULLABLE"
    if isinstance(dt, T.ArrayType):
        mode, dt = "REPEATED", dt.elementType
    if isinstance(dt, T.StructType):
        return {
            "name": field.name,
            "type": "RECORD",
            "mode": mode,
            "fields": [spark_field_to_api(f) for f in dt.fields],
        }
    for cls, name in _SPARK_TO_BQ.items():
        if isinstance(dt, cls):
            return {"name": field.name, "type": name, "mode": mode}
    raise ModelError(f"no BigQuery mapping for {field.name}: {dt.simpleString()}")


def api_field_to_spark(api: dict) -> T.StructField:
    """BigQuery SchemaField API representation → Spark StructField."""
    typ, mode = api["type"].upper(), api.get("mode", "NULLABLE").upper()
    if typ == "RECORD":
        dt: T.DataType = T.StructType([api_field_to_spark(f) for f in api.get("fields", [])])
    elif typ in _BQ_TO_SPARK:
        dt = _BQ_TO_SPARK[typ]
    else:
        raise ModelError(f"no Spark mapping for BigQuery type {typ}")
    if mode == "REPEATED":
        dt = T.ArrayType(dt, True)
    return T.StructField(api["name"], dt, mode != "REQUIRED")


def _field_api_repr(f: Any) -> dict:
    """Accept real SchemaField objects or plain API-repr dicts."""
    if isinstance(f, dict):
        return f
    return f.to_api_repr()


def _is_not_found(e: Exception) -> bool:
    return getattr(e, "code", None) == 404 or type(e).__name__ == "NotFound"


class BigQuerySink(Sink):
    FORMAT = "bigquery"

    def __init__(self, spark: SparkSession, project: str, write_method: str = "direct",
                 client: Any = None):
        self.spark = spark
        self.project = project
        self.write_method = write_method
        self._client = client
        self._connector_ok: bool | None = None

    # ------------------------------------------------------ clients
    def client(self) -> Any:
        if self._client is None:
            try:
                from google.cloud import bigquery  # noqa: PLC0415
            except ImportError as e:
                raise BigQuerySinkUnavailable(
                    "google-cloud-bigquery not installed; pass client= or "
                    "pip install google-cloud-bigquery"
                ) from e
            self._client = bigquery.Client(project=self.project)
        return self._client

    def _probe_connector(self) -> None:
        if self._connector_ok:
            return
        try:
            self.spark._jvm.Class.forName(
                "com.google.cloud.spark.bigquery.BigQueryRelationProvider"
            )
            self._connector_ok = True
        except Exception as e:  # jar not on classpath in this image
            raise BigQuerySinkUnavailable(
                "spark-bigquery-connector not on the classpath; use TableSink "
                "locally or submit with --packages "
                "com.google.cloud.spark:spark-bigquery-with-dependencies_2.13:<ver>"
            ) from e

    def _new_table(self, table_id: str, api_fields: list[dict], partition: str) -> Any:
        """A creatable table object: a real bigquery.Table when the lib
        is importable, else a plain spec the (mock) client consumes."""
        part = None
        if partition != TimeUnit.NONE.value:
            part = {"type": partition.upper(), "field": "timestamp"}
        try:
            from google.cloud import bigquery  # noqa: PLC0415

            t = bigquery.Table(
                table_id,
                schema=[bigquery.SchemaField.from_api_repr(f) for f in api_fields],
            )
            if part:
                t.time_partitioning = bigquery.TimePartitioning(
                    type_=part["type"], field=part["field"]
                )
            return t
        except ImportError:
            return {"table_id": table_id, "schema": api_fields, "time_partitioning": part}

    # ------------------------------------------------------------ Q4
    def ensure_table(self, dest: TableDest, data_schema: T.StructType) -> T.StructType:
        dest.validate()
        client = self.client()
        table_id = f"{self.project}.{dest.dataset}.{dest.table}"
        try:
            table = client.get_table(table_id)
        except Exception as e:
            if not _is_not_found(e):
                raise
            table = None

        if table is None:
            full = envelope_schema(data_schema)
            api_fields = [spark_field_to_api(f) for f in full.fields]
            client.create_table(self._new_table(table_id, api_fields, dest.partition))
            return data_schema

        current_api = [_field_api_repr(f) for f in table.schema]
        by_name = {f["name"]: f for f in current_api}
        if "data" not in by_name:
            raise ModelError(f"{table_id} exists without a data column")
        current_data = api_field_to_spark(by_name["data"]).dataType
        if not isinstance(current_data, T.StructType):
            raise ModelError(f"{table_id}.data is not a RECORD")
        merged = merge_schemas(current_data, data_schema)
        if schemas_equal(current_data, merged):
            return current_data  # Q3 no-op detection: skip update

        new_api = [
            spark_field_to_api(T.StructField("data", merged, True))
            if f["name"] == "data"
            else f
            for f in current_api
        ]
        try:
            from google.cloud import bigquery  # noqa: PLC0415

            table.schema = [bigquery.SchemaField.from_api_repr(f) for f in new_api]
        except ImportError:
            table.schema = new_api
        # update_table sends the table ETag as If-Match: concurrent
        # evolution loses with 412 and retries at the caller (CAS, Q4)
        client.update_table(table, ["schema"])
        return merged

    # --------------------------------------------------------- W1/W2
    def append(self, dest: TableDest, df: DataFrame) -> int:
        self._probe_connector()
        # a separate count, not an observed write (table.counted_write):
        # with_backoff may run the write more than once
        n = df.count()

        def write():
            w = (
                df.write.format(self.FORMAT)
                .option("table", f"{self.project}.{dest.dataset}.{dest.table}")
                .option("writeMethod", self.write_method)
            )
            if dest.partition != TimeUnit.NONE.value:
                w = w.option("partitionField", "timestamp").option(
                    "partitionType", dest.partition.upper()
                )
            w.mode("append").save()

        with_backoff(write)
        return n
