"""Spans and counts recorded from outside the program.

The traced run wraps public calls at the names the program looks them
up by (``pipeline/ingest.py`` imports ``read_objects``,
``strip_struct_column`` and ``validate_output`` by name, so those are
patched in that module). Each wrapper records a span ``(id, name,
start, end, parent, op)``; spans of one operation share ``op``. Spark
jobs are attributed to an operation through its job group and counted
from ``statusTracker`` once the run is over; shuffle and spill bytes
come from the Spark event log. Spans stay in memory and are written out
at the end.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

# span name -> per-layer metric it adds to
LAYER_OF = {
    "rules.route": "rules.route_s",
    "rules.apply": "rules.apply_s",
    "rules.validate": "rules.apply_s",
    "sources.read": "sources.read_s",
    "schema.strip": "schema.strip_s",
    "sinks.ensure": "sinks.ensure_s",
    "sinks.append": "sinks.append_s",
    "streaming.acquire": "streaming.acquire_s",
    "streaming.update": "streaming.update_s",
}
# ingest per-layer metrics, per operation
TIMES = [
    "rules.route_s",
    "rules.apply_s",
    "sources.read_s",
    "schema.strip_s",
    "sinks.ensure_s",
    "sinks.append_s",
    "pipeline.self_s",
]
COUNTS = ["sinks.evolutions", "sinks.append_calls", "sinks.rows", "sinks.files", "sinks.bytes"]
UNITS = {"sinks.rows": "rows", "sinks.files": "files", "sinks.bytes": "B"}
# the registry rows the corpus workload times: one search row, one curate row
CORPUS_ROWS = ("bm25_pruned_idx", "corpus_curate_modern")
ROW_METRICS = {
    "build_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "stages": "count",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "cached_after": "count",
}
# every per-layer metric a traced run prints, with its unit; a workload
# that never enters a layer reports 0 for it
PER_LAYER = {
    **{n: "s" for n in TIMES},
    **{n: UNITS.get(n, "count") for n in COUNTS},
    **{f"spark.{w}": "count" for w in ("jobs", "stages", "tasks")},
    **{f"{r}.{k}": u for r in CORPUS_ROWS for k, u in ROW_METRICS.items()},
}


def per_layer(values: dict[str, float]) -> dict[str, dict]:
    """The traced run's ``metrics``: every per-layer metric, in order."""
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"not per-layer metrics: {sorted(unknown)}")
    return {n: {"value": values.get(n, 0), "unit": u} for n, u in PER_LAYER.items()}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.sc = None  # SparkContext whose job groups tag operations
        self.results: dict[str, object] = {}  # ServeResult per push operation

    # -- recording --------------------------------------------------------
    @property
    def op_id(self) -> str | None:
        return getattr(self._tls, "op", None)

    def begin_op(self, op: str) -> None:
        self._tls.op = op
        self._tls.stack = []
        if self.sc is not None:
            self.sc.setJobGroup(op, op)

    def end_op(self) -> None:
        self._tls.op = None
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self, name: str, n: float = 1) -> None:
        op = self.op_id
        if op is not None:
            with self._lock:
                self.counts[op][name] += n

    def call(self, name: str, fn, *args, **kwargs):
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        with self._lock:
            sid = len(self.spans)
            span = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else None,
                "op": self.op_id,
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(span)
        stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.perf_counter()
            stack.pop()

    # -- installing wrappers ---------------------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None, op_of=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name``.
        ``before(args, kwargs)`` runs ahead of the span and its result is
        handed to ``after(result, state, args, kwargs)``, which runs once
        the span has ended. Both run in ``trace.hook`` spans, so the
        caller's self time does not count them. With ``op_of``, each call
        is an operation of its own, named ``op_of(args, kwargs)``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if op_of is not None:
                self.begin_op(op_of(args, kwargs))
            try:
                state = self.call("trace.hook", before, args, kwargs) if before else None
                out = self.call(name, orig, *args, **kwargs)
                if after:
                    self.call("trace.hook", after, out, state, args, kwargs)
                return out
            finally:
                if op_of is not None:
                    self.end_op()

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install_ingest(self) -> None:
        """Wrap the layers ``IngestPipeline.load_objects`` passes through."""
        from swarm_spark.pipeline import ingest
        from swarm_spark.rules.event import EventRuleSet
        from swarm_spark.rules.schema_rule import SchemaRule
        from swarm_spark.sinks.table import TableSink

        self.wrap(ingest.IngestPipeline, "load_objects", "pipeline.load_objects")
        self.wrap(EventRuleSet, "match", "rules.route")
        self.wrap(SchemaRule, "apply", "rules.apply")
        self.wrap(ingest, "validate_output", "rules.validate")
        self.wrap(ingest, "read_objects", "sources.read")
        self.wrap(ingest, "strip_struct_column", "schema.strip")

        def schema_before(args, kwargs):
            sink, dest = args[0], args[1]
            cur = sink._read_schema(dest)
            return None if cur is None else cur["data"].dataType

        def evolved(merged, before, args, kwargs):
            from swarm_spark.schema.merge import schemas_equal

            if before is not None and not schemas_equal(before, merged):
                self.count("sinks.evolutions")

        self.wrap(TableSink, "ensure_table", "sinks.ensure", schema_before, evolved)

        def files_before(args, kwargs):
            return _files(args[0]._dir(args[1]))

        def appended(n, before, args, kwargs):
            new = {p: s for p, s in _files(args[0]._dir(args[1])).items() if p not in before}
            self.count("sinks.append_calls")
            self.count("sinks.rows", n)
            self.count("sinks.files", len(new))
            self.count("sinks.bytes", sum(new.values()))

        self.wrap(TableSink, "append", "sinks.append", files_before, appended)

    def install_serve(self) -> None:
        """Wrap the state store and the push handler on top of the ingest
        layers. Each ``handle_pubsub`` call is one operation, named
        ``<message id>#<delivery number>``."""
        from swarm_spark.streaming.serve import NotificationProcessor
        from swarm_spark.streaming.state import StateStore

        self.install_ingest()
        self.wrap(StateStore, "get_or_create", "streaming.acquire")
        self.wrap(StateStore, "update", "streaming.update")
        seen: dict[str, int] = defaultdict(int)

        def delivery(args, kwargs):
            msg_id = str((args[1].get("message") or {}).get("message_id"))
            with self._lock:
                seen[msg_id] += 1
                return f"{msg_id}#{seen[msg_id]}"

        def keep(res, state, args, kwargs):
            self.results[self.op_id] = res

        self.wrap(NotificationProcessor, "handle_pubsub", "streaming.handle", after=keep, op_of=delivery)

    # -- reading back -----------------------------------------------------
    def spark_counts(self, ops: list[str]) -> dict[str, dict[str, int]]:
        """Jobs, stages and tasks run under each operation's job group."""
        from py4j.protocol import Py4JError

        sc = self.sc
        try:
            # job ends reach the status store through the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # internal API; fall back to a pause
            time.sleep(1.0)
        st = sc.statusTracker()
        out = {}
        for op in ops:
            jobs = st.getJobIdsForGroup(op)
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numTasks
            out[op] = {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}
        return out

    def layer_seconds(self, ops: list[str]) -> dict[str, float]:
        """Seconds per layer summed over ``ops``; ``pipeline.self_s`` is
        ``load_objects`` time minus the time its direct children cover."""
        want = set(ops)
        out: dict[str, float] = defaultdict(float)
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["op"] not in want or s["end"] is None:
                continue
            d = s["end"] - s["start"]
            if s["name"] in LAYER_OF:
                out[LAYER_OF[s["name"]]] += d
            if s["parent"] is not None:
                child_time[s["parent"]] += d
        for s in self.spans:
            if s["op"] in want and s["name"] == "pipeline.load_objects":
                out["pipeline.self_s"] += s["end"] - s["start"] - child_time[s["id"]]
        return out

    def layer_metrics(self, ops: list[str]) -> dict[str, float]:
        """The ingest per-layer metrics, per operation over ``ops``."""
        k = len(ops)
        secs = self.layer_seconds(ops)
        out = {name: secs.get(name, 0.0) / k for name in TIMES}
        for name in COUNTS:
            out[name] = sum(self.counts[op][name] for op in ops) / k
        spark = self.spark_counts(ops)
        for what in ("jobs", "stages", "tasks"):
            out[f"spark.{what}"] = sum(spark[op][what] for op in ops) / k
        return out

    def handle_seconds(self, op: str) -> float:
        for s in self.spans:
            if s["op"] == op and s["name"] == "streaming.handle":
                return s["end"] - s["start"]
        raise KeyError(op)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "counts": self.counts, **extra}, f)


def _files(d: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(d):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(root, fn)
                out[p] = os.path.getsize(p)
    return out


def cached_blocks(spark) -> int:
    """Persisted RDDs plus CacheManager entries alive in ``spark`` (what
    ``clearCache`` would, and would not, release)."""
    jss = spark._jsparkSession
    cm = jss.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return int(spark.sparkContext._jsc.getPersistentRDDs().size()) + int(field.get(cm).size())


def eventlog_bytes(log_dir: str) -> dict[str, dict[str, int]]:
    """Shuffle bytes written and bytes spilled (memory plus disk) per job
    group, read from the Spark event log in ``log_dir`` once its
    application has stopped."""
    group_of_stage: dict[int, str] = {}
    out: dict[str, dict[str, int]] = defaultdict(lambda: {"shuffle_bytes": 0, "spill_bytes": 0})
    # one directory per application, its events in files events_<n>_...
    paths = glob.glob(os.path.join(log_dir, "*", "events_*"))
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path, encoding="utf-8") as f:
            events = [json.loads(line) for line in f]
        for ev in events:
            if ev["Event"] == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev["Stage IDs"] if group is not None else ():
                    group_of_stage[sid] = group
            elif ev["Event"] == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                group = group_of_stage.get(ev["Stage ID"])
                if group is not None:
                    tm = ev["Task Metrics"]
                    out[group]["shuffle_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    out[group]["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
    return out
