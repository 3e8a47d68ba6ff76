"""``ingest_batch``: what ``swarm_spark ingest`` does, as a closed loop
with one caller running sequential ``IngestPipeline.load_objects``
batches into a fresh ``TableSink`` warehouse.

Each batch is ``OBJECTS`` NDJSON objects (``GZ`` of them gzipped)
holding ``RECORDS`` CloudTrail records routed to ``len(ACCOUNTS)``
day-partitioned tables; every second batch adds a field to ``EVOLVE``
of them. Per-destination work dominates: every table costs its own
strip, evolve, count and write jobs. The shape of every batch is fixed
so that seeds differ only in content (records, which tables evolve).
"""

from __future__ import annotations

import random
import time

import check
import common
import gen

ACCOUNTS = [gen.account(i) for i in range(6)]
OBJECTS = 8
GZ = 2
RECORDS = 1200
EVOLVE = 2
# Warm-up batches in set-up: batch time keeps falling over the first
# several batches after a cold start.
WARM = 3
MIN_OPS = 3  # batches measured at least; per-layer counts cover these


class Inputs:
    """Batches in the order the seed makes them, written on demand."""

    def __init__(self, seed: int, scratch: common.Scratch):
        self.rng = random.Random(seed)
        self.scratch = scratch
        self.made: list[gen.Batch] = []

    def get(self, i: int) -> gen.Batch:
        while len(self.made) <= i:
            n = len(self.made)
            self.made.append(
                gen.cloudtrail_batch(
                    self.rng,
                    self.scratch.sub("in", f"b{n:03d}"),
                    f"b{n:03d}",
                    ACCOUNTS,
                    OBJECTS,
                    RECORDS,
                    evolve=EVOLVE if n % 2 else 0,
                    gz=GZ,
                )
            )
        return self.made[i]


def _pipeline(spark, warehouse: str):
    from swarm_spark.pipeline import IngestPipeline
    from swarm_spark.rules import load_rules_file
    from swarm_spark.sinks import TableSink

    events, schemas = load_rules_file(common.RULES_FILE)
    return IngestPipeline(spark, events, schemas, TableSink(spark, warehouse))


def _objects(batch: gen.Batch):
    return [gen.object_meta(p) for p in batch.paths]


def run(seed: int, seconds: float, scratch: common.Scratch, tracer) -> tuple[dict, dict]:
    inputs = Inputs(seed, scratch)
    inputs.get(WARM + MIN_OPS - 1)

    # set-up from a cold start: session, rules, sink and warm-up batches
    t0 = time.perf_counter()
    spark = common.start_session(scratch)
    pipe = _pipeline(spark, scratch.sub("warehouse-warm"))
    for k in range(WARM):
        pipe.load_objects(_objects(inputs.get(k)))
    setup_s = time.perf_counter() - t0

    warehouse = scratch.sub("warehouse")
    pipe = _pipeline(spark, warehouse)
    if tracer is not None:
        tracer.sc = spark.sparkContext
        tracer.install_ingest()

    walls, ops, errors = [], [], []
    records = 0
    i = WARM
    while len(walls) < MIN_OPS or sum(walls) < seconds:
        batch = inputs.get(i)
        objs = _objects(batch)
        op = f"batch-{i}"
        if tracer is not None:
            tracer.begin_op(op)
        t0 = time.perf_counter()
        try:
            stats = pipe.load_objects(objs)
        except Exception as e:  # noqa: BLE001 - a failed batch is counted, not fatal
            stats, err = None, f"{op}: {type(e).__name__}: {e}"
        walls.append(time.perf_counter() - t0)
        if tracer is not None:
            tracer.end_op()
        if stats is not None:
            got = {d[1]: n for d, n in stats.rows_by_dest.items()}
            err = None if got == batch.rows_by_table else f"{op}: rows {got} != {batch.rows_by_table}"
        if err is None:
            records += batch.records
        else:
            errors.append(err)
        ops.append(op)
        i += 1

    rss = common.peak_rss_mb(spark)
    peak_rss = sum(rss.values())

    # outputs: each table holds what every measured batch sent it, ids
    # unique, schema the F6 merge of the batches in order
    rows: dict[str, int] = {}
    fields: dict[str, list[str]] = {}
    for k in range(WARM, i):
        b = inputs.get(k)
        for t, n in b.rows_by_table.items():
            rows[t] = rows.get(t, 0) + n
            fields[t] = check.merge_fields(fields.get(t), b.added.get(t, []))
    table_errors = check.compare(check.tables(warehouse), rows, fields)
    failed = len(errors) + (len(walls) - len(errors) if table_errors else 0)

    p50 = common.median(walls)
    report = {
        "workload": "ingest_batch",
        "loop": "closed, 1 outstanding",
        "batches": len(walls),
        "records_per_batch": RECORDS,
        "destinations_per_batch": len(ACCOUNTS),
        "batch_s": walls,
        "records_per_s": records / sum(walls),
        "batch_p50_s": p50,
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "failed_ratio": failed / len(walls),
        "errors": errors + table_errors,
    }
    result = {
        "correct": failed == 0,
        "attempted": len(walls),
        "failed": failed,
        "metrics": {
            "setup_s": common.metric(setup_s, "s"),
            "peak_rss_mb": common.metric(peak_rss, "MB"),
            "op_p50_s": common.metric(p50, "s"),
            "records_per_s": common.metric(records / sum(walls), "records/s"),
        },
    }
    if tracer is not None:
        traced_ops = ops[:MIN_OPS]
        layers = tracer.layer_metrics(traced_ops)
        tracer.restore()
        # single-thread baseline: one more batch at local[1], untraced
        spark.stop()
        spark = common.start_session(scratch, master="local[1]")
        pipe1 = _pipeline(spark, scratch.sub("warehouse-local1"))
        t0 = time.perf_counter()
        pipe1.load_objects(_objects(inputs.get(i)))
        report["local1_batch_s"] = time.perf_counter() - t0
        report["layers"] = layers
    spark.stop()
    return result, report
