"""SQL pass-through migrate + schema-only apply (operators M1, Q1-Q4).

Reference ``migrate`` (/root/reference/pkg/usecase/migrate.go:14-73):
ensure the destination table exists with the source's (optionally
merged) schema and partitioning, then run a user SQL — default
``INSERT INTO dst SELECT * FROM src``. Spark SQL supersedes the
BigQuery pass-through: any registered table is queryable.

``apply_schema`` is the ``swarm schema`` command
(pkg/usecase/schema.go:13-90): run routing + transform + inference and
evolve destination schemas WITHOUT inserting rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..model import ModelError, ObjectMeta, TableDest
from ..pipeline.ingest import ROUTE_COLS, IngestPipeline
from ..schema.strip import profile_struct_column, strip_struct
from ..sinks.table import TableSink


def migrate(
    spark: SparkSession,
    sink: TableSink,
    src: TableDest,
    dst: TableDest,
    query: str | None = None,
) -> int:
    """Ensure dst (schema merged from src), then run the migration SQL.

    The query sees the source as view ``src`` and must produce rows in
    the destination's full row shape; default is ``SELECT * FROM src``.
    """
    src_df = sink.read_table(src)
    data_schema = src_df.schema["data"].dataType
    merged = sink.ensure_table(dst, data_schema)

    src_df.createOrReplaceTempView("src")
    out: DataFrame = spark.sql(query or "SELECT * FROM src")
    if set(out.columns) != set(src_df.columns):
        raise ModelError(
            f"migrate query must produce the row envelope {src_df.columns}, got {out.columns}"
        )
    from ..schema.infer import _align_expr  # align data struct to merged
    from pyspark.sql import functions as F

    aligned = out.select(
        "id",
        "ingest_id",
        "timestamp",
        "ingested_at",
        _align_expr(F.col("data"), out.schema["data"].dataType, merged).alias("data"),
    )
    return sink.append(dst, aligned)


def apply_schema(pipeline: IngestPipeline, objs: list[ObjectMeta]) -> list[TableDest]:
    """Evolve destination schemas from the objects' inferred shapes
    without writing any rows. Returns the destinations touched."""
    enveloped = pipeline.transform_objects(objs)
    if enveloped is None:
        return []
    data = enveloped.schema["data"]
    touched = []
    # one grouped profile for every destination, as in the ingest path
    for p in sorted(profile_struct_column(enveloped, "data", by=ROUTE_COLS), key=lambda p: p.key):
        dest = TableDest(*p.key)
        _, data_type = strip_struct("data", data, p.keep)
        pipeline.sink.ensure_table(dest, data_type)
        touched.append(dest)
    return touched
