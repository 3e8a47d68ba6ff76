"""Batch ingest pipeline (reference query lifecycle §3.2, SURVEY.md §3).

Dataflow, expressed Spark-first::

    objects ──R1──▶ LoadRequests ──group by Source──▶ spark.read.json
       (driver)        (driver)        (ONE read per rule config,
                                        all matched files at once)
        ──R2──▶ routed Log frame ──R3──▶ validated
        ──T2/T3/T4──▶ envelope (id, ingest_id, timestamp, ingested_at, data)
        ──G1──▶ ONE grouped profile over (dataset, table, partition):
                destinations, row counts and the T1 keep-set of ``data``
        ──T1──▶ data struct stripped per destination (type derived in
                Python from the keep-set, no extra job)
        ──Q1/Q2/Q4──▶ sink.ensure_table, serially (strict merge / evolve)
        ──W1──▶ sink.append per destination, concurrently from a
                thread pool (aligned to evolved schema)
        ──W6──▶ load-log metadata row

Scale notes (100 TB):
- Routing happens on metadata BEFORE any read (early filter, SURVEY §4)
  — unmatched objects are never opened.
- One ``spark.read.json`` per distinct Source config, not per object:
  a million matched files become one distributed scan with full-scan
  inference, not a million jobs.
- The transformed frame is persisted, then ONE grouped aggregation
  yields every destination's row count and keep-set, so N destinations
  cost one source scan + one profile aggregation + N filtered writes
  (each write counts its own rows) — not a strip aggregation and a
  count per destination. The routing columns are low-cardinality by
  construction (table names), so the profile's result is small.
- The N writes run concurrently, bounded by min(distinct tables,
  defaultParallelism): small destinations no longer serialize behind
  each other's job latency, and every write job stays in the caller's
  job group.
- Per-record work (explode fan-out, struct rebuild, md5 id) is all
  Catalyst expressions — whole-stage codegen, no Python in the row
  path (the canonical-id pandas UDF is opt-in).
"""

from __future__ import annotations

import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from ..functions.ids import canonical_id_column, fast_id_column
from ..functions.timeutils import timestamp_from_unix
from ..model import LoadRequest, ModelError, ObjectMeta, Source, TableDest
from ..rules.event import EventRuleSet
from ..rules.schema_rule import SchemaRuleRegistry, validate_output
from ..schema.strip import profile_struct_column, strip_struct
# strip_struct_column is no longer called here: one grouped profile
# replaces it. It stays importable from this module because
# perfbench/spans.py wraps it by this name (schema.strip_s, now 0).
from ..schema.strip import strip_struct_column  # noqa: F401
from ..sinks.base import Sink
from ..sources.jsonsrc import read_objects

META_DEST = TableDest("swarm", "load_log")
ROUTE_COLS = ("dataset", "table", "partition")


def _dest_key(dest: TableDest) -> tuple:
    return (dest.dataset, dest.table, dest.partition)


class IngestPartialFailure(RuntimeError):
    """Some destinations failed; the rest were still written.

    Carries the stats (successful rows per destination) and the
    per-destination exceptions — the caller decides whether the
    successful part stands (it is already durable; content-hash ids
    make a retry of the whole batch idempotent downstream)."""

    def __init__(self, stats: "IngestStats", errors: list):
        self.stats = stats
        self.dest_errors = errors
        summary = "; ".join(f"{d.dataset}.{d.table}: {e}" for d, e in errors)
        super().__init__(f"{len(errors)} destination(s) failed: {summary}")


@dataclass
class IngestStats:
    ingest_id: str
    objects: int = 0
    sources: int = 0
    rows_by_dest: dict[tuple, int] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    started_at: float = 0.0
    finished_at: float = 0.0

    @property
    def total_rows(self) -> int:
        return sum(self.rows_by_dest.values())


class IngestPipeline:
    def __init__(
        self,
        spark: SparkSession,
        event_rules: EventRuleSet,
        schema_rules: SchemaRuleRegistry,
        sink: Sink,
        id_mode: str = "fast",  # "fast" (JVM md5) | "canonical" (Go-parity)
        strict: bool = True,
        write_load_log: bool = False,
        json_mode: str = "lines",
        atomic: bool = False,
        merge: bool = False,
    ):
        if id_mode not in ("fast", "canonical"):
            raise ModelError(f"id_mode must be fast|canonical, got {id_mode!r}")
        if atomic and not hasattr(sink, "transaction"):
            raise ModelError(f"sink {type(sink).__name__} has no transactional mode")
        if merge and atomic:
            raise ModelError("merge mode and atomic batches are mutually exclusive")
        if merge and not hasattr(sink, "merge_by_id"):
            raise ModelError(f"sink {type(sink).__name__} has no merge_by_id")
        self.spark = spark
        self.event_rules = event_rules
        self.schema_rules = schema_rules
        self.sink = sink
        self.id_mode = id_mode
        self.strict = strict
        self.write_load_log = write_load_log
        self.json_mode = json_mode
        self.atomic = atomic
        self.merge = merge

    # -- R1: object routing (driver-side; see EventRuleSet.route_listing
    #    for the distributed variant used by backfills) ----------------
    def route(self, objs: list[ObjectMeta]) -> list[LoadRequest]:
        reqs: list[LoadRequest] = []
        for o in objs:
            for s in self.event_rules.match(o, strict=self.strict):
                reqs.append(LoadRequest(o, s))
        return reqs

    # -- transform one Source group into the routed Log frame ----------
    def _transform_group(self, source: Source, paths: list[str]) -> DataFrame | None:
        raw = read_objects(self.spark, paths, parser=source.parser, mode=self.json_mode)
        if not raw.schema.fields:
            # zero parseable records in the whole group (e.g. empty
            # objects): nothing to transform — mirror the reference's
            # graceful zero-log result, and don't hand the rule an
            # empty-schema relation (bare names would resolve to
            # zero-arg SQL functions like current_user there)
            return None
        rule = self.schema_rules.get(source.schema)
        out = rule.apply(raw)
        return validate_output(out, strict=self.strict)

    def _envelope(self, logs: DataFrame, ingest_id: str) -> DataFrame:
        data_type = logs.schema["data"].dataType
        content_id = (
            fast_id_column("data", data_type)
            if self.id_mode == "fast"
            else canonical_id_column("data", data_type)
        )
        return logs.select(
            F.col("dataset"),
            F.col("table"),
            F.col("partition"),
            F.coalesce(F.col("id"), content_id).alias("id"),
            F.lit(ingest_id).alias("ingest_id"),
            timestamp_from_unix(F.col("timestamp")).alias("timestamp"),
            F.current_timestamp().alias("ingested_at"),
            F.col("data"),
        )

    def transform_objects(self, objs: list[ObjectMeta]) -> DataFrame | None:
        """Route + transform + envelope WITHOUT writing: the routed Log
        frame as a DataFrame (one union across source groups). Useful
        for dry inspection and correctness harnesses; ``load_objects``
        is this plus the per-destination evolve/append."""
        reqs = self.route(objs)
        by_source: dict[Source, list[str]] = {}
        for r in reqs:
            by_source.setdefault(r.source, []).append(r.obj.url)
        frames = []
        for source, paths in by_source.items():
            logs = self._transform_group(source, paths)
            if logs is not None:
                frames.append(self._envelope(logs, "dry"))
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def load_objects(self, objs: list[ObjectMeta]) -> IngestStats:
        stats = IngestStats(ingest_id=uuid.uuid4().hex, started_at=time.time())
        stats.objects = len(objs)
        reqs = self.route(objs)
        stats.sources = len(reqs)

        by_source: dict[Source, list[str]] = {}
        for r in reqs:
            by_source.setdefault(r.source, []).append(r.obj.url)

        # atomic=True: ONE transaction spans every source group, so a
        # failure in any later group aborts the earlier groups' staged
        # slices too — the all-or-nothing contract is the whole batch,
        # not per group
        txn = self.sink.transaction() if self.atomic else None
        # With a batch-spanning txn, per-group staged counts accumulate
        # here and fold into stats only AFTER the commit succeeds: if a
        # later source group fails, the txn aborts and the
        # IngestPartialFailure's stats must not report rows for
        # destinations that never became visible.
        pending: dict[tuple, int] = {}
        for source, paths in by_source.items():
            logs = self._transform_group(source, paths)
            if logs is None:
                continue
            enveloped = self._envelope(logs, stats.ingest_id)
            staged = self._write_routed(enveloped, stats, txn=txn)
            for key, n in staged.items():
                pending[key] = pending.get(key, 0) + n
        if txn is not None:
            txn.commit()
            for key, n in pending.items():
                stats.rows_by_dest[key] = stats.rows_by_dest.get(key, 0) + n

        stats.finished_at = time.time()
        if self.write_load_log:
            self._append_load_log(stats)
        return stats

    def ingest_frame(self, raw: DataFrame, schema_name: str) -> IngestStats:
        """Run an already-materialized record frame through one schema
        rule and the routed write — the ``foreachBatch`` entry point
        for Structured Streaming (each microbatch frame lands here)."""
        stats = IngestStats(ingest_id=uuid.uuid4().hex, started_at=time.time())
        if raw.schema.fields:
            rule = self.schema_rules.get(schema_name)
            logs = validate_output(rule.apply(raw), strict=self.strict)
            self._write_routed(self._envelope(logs, stats.ingest_id), stats)
        stats.finished_at = time.time()
        if self.write_load_log:
            self._append_load_log(stats)
        return stats

    # -- G1 + Q1/Q2/Q4 + W1: per-destination evolve + append -----------
    def _write_routed(
        self, enveloped: DataFrame, stats: IngestStats, txn=None
    ) -> dict[tuple, int]:
        """Per-destination evolve+append, destinations written concurrently.

        One grouped aggregation over the persisted frame profiles every
        destination at once (row count + T1 keep-set of ``data``); each
        stripped ``data`` type is derived from its keep-set in Python.
        ``ensure_table`` then runs serially on this thread in sorted
        destination order, and the slices are appended from a Python
        thread pool bounded by min(distinct tables, defaultParallelism)
        — the reference's one goroutine per table (load.go:100-130).
        Each task inherits this thread's Spark local properties, so its
        jobs stay in the caller's job group. Per batch that is one
        profile aggregation plus one write job per destination, which
        also returns its row count.

        Default mode: PARTIAL-failure tolerance — one bad destination
        (schema conflict, sink failure) never blocks the others; its
        error is recorded per-ingest and surfaced after every
        destination has been attempted, errors in sorted destination
        order (reference semantics: per-table goroutines report errors
        independently).

        ``atomic=True``: all destination slices stage in a sink
        transaction; any failure aborts it — once every staging task has
        returned — and no rows become visible (see TableTransaction —
        schema evolution is still applied eagerly, which is harmless
        because the merge is monotonic/additive; an ensure failure stops
        the batch before any slice stages). When the caller passes an
        open ``txn`` (load_objects spans one across all source groups),
        this call only STAGES into it and the caller commits once;
        otherwise the transaction is opened and committed here.

        Returns the per-destination staged row counts. They are merged
        into ``stats.rows_by_dest`` here ONLY when this call made the
        rows visible itself (direct append, or own transaction
        committed); with a caller-owned txn the counts are returned
        un-merged and the caller folds them in after ITS commit, so an
        aborted batch never reports rows for invisible destinations."""
        enveloped = enveloped.persist()
        errors: dict[TableDest, Exception] = {}
        own_txn = txn is None and self.atomic
        if own_txn:
            txn = self.sink.transaction()
        staged: dict[tuple, int] = {}
        try:
            data = enveloped.schema["data"]
            profiles = sorted(
                profile_struct_column(enveloped, "data", by=ROUTE_COLS),
                key=lambda p: p.key,
            )
            # Q1/Q2/Q4 serially, in sorted order: schema files are
            # small local file writes, and a stable order keeps
            # evolution and error reporting deterministic
            ready = []
            for p in profiles:
                dest = TableDest(*p.key)
                try:
                    # T1: per-destination void pruning before inference
                    projected, data_type = strip_struct("data", data, p.keep)
                    merged = self.sink.ensure_table(dest, data_type)
                except Exception as e:  # noqa: BLE001 — recorded, surfaced below
                    errors[dest] = e
                    if txn is not None:  # all-or-nothing: stage nothing
                        break
                    continue
                ready.append((p.rows, dest, projected, data_type, merged))
            if ready and not (errors and txn is not None):
                for dest, fut in self._fan_out(enveloped, ready, txn).items():
                    try:
                        staged[_dest_key(dest)] = fut.result()
                    except Exception as e:  # noqa: BLE001 — recorded, surfaced below
                        errors[dest] = e
            failed = sorted(errors.items(), key=lambda de: _dest_key(de[0]))
            for dest, e in failed:
                stats.errors.append(f"{dest.dataset}.{dest.table}: {e}")
            if failed and txn is not None:  # all-or-nothing: any error aborts
                txn.abort()
                raise IngestPartialFailure(stats, failed) from failed[0][1]
            if own_txn:
                txn.commit()
            if txn is None or own_txn:  # rows are visible: report them
                for key, n in staged.items():
                    stats.rows_by_dest[key] = stats.rows_by_dest.get(key, 0) + n
        finally:
            enveloped.unpersist()
        if failed and self.strict:
            raise IngestPartialFailure(stats, failed) from failed[0][1]
        return staged

    def _fan_out(self, enveloped: DataFrame, ready: list, txn) -> dict:
        """W1 for every ensured destination from a thread pool.
        Returns each destination's future once every task has returned.
        Tasks are submitted largest slice first, so the longest writes
        start earliest."""

        def write(dest, projected, data_type, merged):
            batch = enveloped.where(
                (F.col("dataset") == dest.dataset)
                & (F.col("table") == dest.table)
                & (F.col("partition") == dest.partition)
            ).select("id", "ingest_id", "timestamp", "ingested_at", projected.alias("data"))
            aligned = self._align_data(batch, merged, data_type)
            if txn is not None:
                return txn.stage(dest, aligned)
            if self.merge:
                # id-upsert re-ingest: corrected objects replace
                # their previous rows (partition-scoped rewrite)
                return self.sink.merge_by_id(dest, aligned)["rows_in"]
            return self.sink.append(dest, aligned)

        tables = {(dest.dataset, dest.table) for _, dest, *_ in ready}
        workers = min(len(tables), self.spark.sparkContext.defaultParallelism)
        futures = {}
        with ThreadPoolExecutor(max_workers=workers) as pool:
            for _, dest, *args in sorted(ready, key=lambda r: (-r[0], _dest_key(r[1]))):
                # wrapped per task: each gets its own copy of this
                # thread's local properties (job group included)
                task = inheritable_thread_target(self.spark)(write)
                futures[dest] = pool.submit(task, dest, *args)
        return futures

    def _align_data(
        self, batch: DataFrame, merged_data: T.StructType, src_type: T.DataType | None = None
    ) -> DataFrame:
        from ..schema.infer import _align_expr  # aligned struct projection

        if src_type is None:
            src_type = batch.schema["data"].dataType
        return batch.select(
            "id",
            "ingest_id",
            "timestamp",
            "ingested_at",
            _align_expr(F.col("data"), src_type, merged_data).alias("data"),
        )

    # -- W6: run-metadata table ----------------------------------------
    def _append_load_log(self, stats: IngestStats) -> None:
        schema = T.StructType(
            [
                T.StructField("ingest_id", T.StringType()),
                T.StructField("started_at", T.TimestampType()),
                T.StructField("finished_at", T.TimestampType()),
                T.StructField("objects", T.LongType()),
                T.StructField("sources", T.LongType()),
                T.StructField("total_rows", T.LongType()),
                T.StructField(
                    "ingests",
                    T.ArrayType(
                        T.StructType(
                            [
                                T.StructField("dataset", T.StringType()),
                                T.StructField("table", T.StringType()),
                                T.StructField("partition", T.StringType()),
                                T.StructField("rows", T.LongType()),
                            ]
                        )
                    ),
                ),
            ]
        )
        import datetime as dt

        row = (
            stats.ingest_id,
            dt.datetime.fromtimestamp(stats.started_at, dt.timezone.utc),
            dt.datetime.fromtimestamp(stats.finished_at, dt.timezone.utc),
            stats.objects,
            stats.sources,
            stats.total_rows,
            [(d[0], d[1], d[2], n) for d, n in sorted(stats.rows_by_dest.items())],
        )
        df = self.spark.createDataFrame([row], schema)
        meta = df.select(
            F.lit(None).cast("string").alias("id"),
            F.col("ingest_id"),
            F.col("started_at").alias("timestamp"),
            F.current_timestamp().alias("ingested_at"),
            F.struct(
                "started_at", "finished_at", "objects", "sources", "total_rows", "ingests"
            ).alias("data"),
        )
        merged = self.sink.ensure_table(META_DEST, meta.schema["data"].dataType)
        self.sink.append(META_DEST, self._align_data(meta, merged))
