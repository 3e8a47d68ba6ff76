"""``serve_notify``: Pub/Sub push deliveries POSTed to the in-process
``streaming/http.py`` frontend on loopback, as a closed loop with
``OUTSTANDING`` deliveries in flight (Pub/Sub push flow control).

One seeded stream of deliveries feeds every in-flight slot. A first
delivery carries one object of ``RECORDS`` records for one seeded table
of the shared ``TABLES`` (one destination, as a CloudTrail object holds
one account's records); every ``EVOLVE_EVERY``-th adds a field and every
``GZ_EVERY``-th is gzipped. Every ``REDELIVER_EVERY``-th delivery repeats
the message id of a seeded earlier message once that one has been acked,
and must ack without loading again. Fixed cost per call dominates: the
same layers as ``ingest_batch`` plus the message state store, on small
inputs.

This workload is not in ``BENCHMARK.json``. Two loads in flight that
append to one table in one session break each other's write (they share
the Hadoop committer's ``_temporary`` directory), the push is nacked
with 205, and the run counts it as failed. It becomes a benchmark
workload once the sink takes concurrent appends.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import threading
import time

import check
import common
import gen

OUTSTANDING = 2
TABLES = 4
RECORDS = 300
EVOLVE_EVERY = 5
GZ_EVERY = 4
REDELIVER_EVERY = 5
WARM = 8  # first deliveries in set-up; ack time falls over the first several
MIN_OPS = 10  # deliveries measured at least; per-layer counts cover these
ROUTE = "/event/pubsub/swarm"
HTTP_TIMEOUT_S = 120


class Delivery:
    def __init__(self, msg_id: str, body: bytes, batch: gen.Batch | None, after: "Delivery | None" = None):
        self.msg_id = msg_id
        self.body = body
        self.batch = batch  # None for a redelivery
        self.after = after  # the delivery a redelivery waits for
        self.acked = threading.Event()
        self.status: int | None = None
        self.reply = ""
        self.seconds = 0.0
        self.error = ""

    @property
    def op(self) -> str:
        return f"{self.msg_id}#{1 if self.batch is not None else 2}"


class Stream:
    """The seeded deliveries, made on demand in order and handed out to
    the in-flight slots one at a time."""

    def __init__(self, seed: int, scratch: common.Scratch, prefix: str, redeliver: bool):
        self.rng = random.Random(f"{seed}-{prefix}")
        self.scratch = scratch
        self.prefix = prefix
        self.accounts = [gen.account(j) for j in range(TABLES)]
        self.redeliver = redeliver
        self.items: list[Delivery] = []
        self.firsts: list[Delivery] = []
        self.redelivered: set[str] = set()
        self.sent = 0
        self._lock = threading.Lock()

    def get(self, i: int) -> Delivery:
        while len(self.items) <= i:
            n = len(self.items)
            again = [d for d in self.firsts if d.msg_id not in self.redelivered]
            if self.redeliver and n % REDELIVER_EVERY == REDELIVER_EVERY - 1 and again:
                target = self.rng.choice(again)
                self.redelivered.add(target.msg_id)
                self.items.append(Delivery(target.msg_id, target.body, None, after=target))
                continue
            k = len(self.firsts)
            msg_id = f"{self.prefix}-{k:05d}"
            batch = gen.cloudtrail_batch(
                self.rng,
                self.scratch.sub("in", msg_id),
                msg_id,
                [self.rng.choice(self.accounts)],
                1,
                RECORDS,
                evolve=1 if k % EVOLVE_EVERY == 2 else 0,
                gz=1 if k % GZ_EVERY == GZ_EVERY - 1 else 0,
            )
            d = Delivery(msg_id, gen.pubsub_envelope(msg_id, batch.paths), batch)
            self.items.append(d)
            self.firsts.append(d)
        return self.items[i]

    def next(self) -> Delivery:
        with self._lock:
            d = self.get(self.sent)
            self.sent += 1
            return d


class Server:
    """Pipeline, state store and HTTP frontend over one session."""

    def __init__(self, spark, scratch: common.Scratch, name: str):
        from swarm_spark.pipeline import IngestPipeline
        from swarm_spark.rules import load_rules_file
        from swarm_spark.sinks import TableSink
        from swarm_spark.streaming import NotificationProcessor, ServeFrontend, StateStore

        events, schemas = load_rules_file(common.RULES_FILE)
        self.warehouse = scratch.sub(f"warehouse-{name}")
        self.states = scratch.sub(f"states-{name}")
        pipe = IngestPipeline(spark, events, schemas, TableSink(spark, self.warehouse))
        proc = NotificationProcessor(pipe, StateStore(self.states))
        self.frontend = ServeFrontend(proc, host="127.0.0.1", port=0).start()
        self.host, self.port = self.frontend.address

    def post(self, d: Delivery) -> None:
        conn = http.client.HTTPConnection(self.host, self.port, timeout=HTTP_TIMEOUT_S)
        t0 = time.perf_counter()
        try:
            conn.request("POST", ROUTE, body=d.body, headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            d.reply = resp.read().decode()
            d.status = resp.status
        except OSError as e:
            d.error = f"{type(e).__name__}: {e}"
        finally:
            d.seconds = time.perf_counter() - t0
            conn.close()

    def stop(self) -> None:
        self.frontend.stop()


def drive(server: Server, stream: Stream, min_ops: int, seconds: float) -> tuple[list[Delivery], float]:
    """``OUTSTANDING`` closed-loop clients, each posting the stream's next
    delivery once its previous one is acked, until ``min_ops`` have been
    sent and ``seconds`` have passed. A redelivery is posted once its
    message has been acked. Returns the deliveries in stream order and
    the loop's wall time."""
    t_start = time.perf_counter()
    first = stream.sent

    def client() -> None:
        while stream.sent - first < min_ops or time.perf_counter() - t_start < seconds:
            d = stream.next()
            if d.after is not None:
                d.after.acked.wait(HTTP_TIMEOUT_S)
            server.post(d)
            d.acked.set()

    threads = [threading.Thread(target=client, daemon=True) for _ in range(OUTSTANDING)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return stream.items[first : stream.sent], time.perf_counter() - t_start


def _state_of(states_dir: str, msg_id: str) -> str | None:
    from swarm_spark.streaming.serve import MSG_TYPE_PUBSUB

    p = os.path.join(states_dir, f"{MSG_TYPE_PUBSUB}__{msg_id}.json")
    try:
        with open(p, encoding="utf-8") as f:
            return json.load(f)["state"]
    except FileNotFoundError:
        return None


def _short(text: str) -> str:
    return text.splitlines()[0][:300] if text else text


def _check(server: Server, done: list[Delivery]) -> list[tuple[Delivery | None, str]]:
    """Problems found, each with the delivery it concerns (None when a
    table is wrong, which concerns every delivery)."""
    errors = []
    rows: dict[str, int] = {}
    fields: dict[str, list[str]] = {}
    for d in done:
        if d.status != 200 or d.reply != "OK":
            errors.append((d, f"{d.op}: {d.status} {_short(d.reply)!r} {d.error}"))
            continue
        if d.batch is None:
            continue
        st = _state_of(server.states, d.msg_id)
        if st != "completed":
            errors.append((d, f"{d.op}: message state {st!r}"))
        for t, n in d.batch.rows_by_table.items():
            rows[t] = rows.get(t, 0) + n
            fields[t] = check.merge_fields(fields.get(t), d.batch.added.get(t, []))
    errors += [(None, e) for e in check.compare(check.tables(server.warehouse), rows, fields)]
    return errors


def run(seed: int, seconds: float, scratch: common.Scratch, tracer) -> tuple[dict, dict]:
    warm = Stream(seed, scratch, "warm", redeliver=False)
    warm.get(WARM - 1)
    stream = Stream(seed, scratch, "msg", redeliver=True)
    stream.get(MIN_OPS - 1)

    # set-up from a cold start: session, rules, sink, state store,
    # frontend and warm-up deliveries
    t0 = time.perf_counter()
    spark = common.start_session(scratch)
    server = Server(spark, scratch, "warm")
    drive(server, warm, WARM, 0.0)
    server.stop()
    setup_s = time.perf_counter() - t0

    server = Server(spark, scratch, "measured")
    if tracer is not None:
        tracer.sc = spark.sparkContext
        tracer.install_serve()
    try:
        every, wall = drive(server, stream, MIN_OPS, seconds)
    finally:
        server.stop()

    rss = common.peak_rss_mb(spark)
    problems = _check(server, every)
    # the first MIN_OPS deliveries run on every seed
    prefix = every[:MIN_OPS]

    if tracer is not None:
        ops = [d.op for d in prefix]
        layers = tracer.layer_metrics(ops)
        secs = tracer.layer_seconds(ops)
        jobs = {op: c["jobs"] for op, c in tracer.spark_counts([d.op for d in every]).items()}
        serve_layers = {
            "streaming.acquire_s": secs.get("streaming.acquire_s", 0.0) / len(ops),
            "streaming.update_s": secs.get("streaming.update_s", 0.0) / len(ops),
            "streaming.useful_ratio": sum(1 for d in prefix if d.batch is not None) / len(ops),
            "http.overhead_s": sum(d.seconds - tracer.handle_seconds(d.op) for d in prefix) / len(ops),
        }
        for d in every:
            reason = getattr(tracer.results.get(d.op), "reason", None)
            if d.batch is None and (reason != "already completed" or jobs[d.op] != 0):
                problems.append((d, f"{d.op}: redelivery gave {reason!r} and ran {jobs[d.op]} jobs"))
            if d.batch is not None and (reason != "" or jobs[d.op] == 0):
                problems.append((d, f"{d.op}: first delivery gave {reason!r} and ran {jobs[d.op]} jobs"))
    spark.stop()

    bad = {id(d) for d, _ in problems if d is not None}
    failed = len(every) if any(d is None for d, _ in problems) else len(bad)
    firsts = [d for d in every if d.batch is not None]
    records = sum(d.batch.records for d in firsts if id(d) not in bad)
    lat = [d.seconds for d in every]
    p50 = common.median(lat)
    tail = common.tail(lat)
    report = {
        "workload": "serve_notify",
        "loop": f"closed, {OUTSTANDING} outstanding",
        "deliveries": len(every),
        "redeliveries": len(every) - len(firsts),
        "records_per_message": RECORDS,
        "ack_s": lat,
        "msgs_per_s": len(every) / wall,
        "records_per_s": records / wall,
        "ack_p50_s": p50,
        "ack_tail_s": None if tail is None else {"percentile": tail[0], "value": tail[1], "n": len(lat)},
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "failed_ratio": failed / len(every),
        "errors": [e for _, e in problems],
    }
    result = {
        "correct": failed == 0,
        "attempted": len(every),
        "failed": failed,
        "metrics": {
            "setup_s": common.metric(setup_s, "s"),
            "peak_rss_mb": common.metric(sum(rss.values()), "MB"),
            "op_p50_s": common.metric(p50, "s"),
            "records_per_s": common.metric(records / wall, "records/s"),
        },
    }
    if tracer is not None:
        report["layers"] = layers
        report["serve_layers"] = serve_layers
    return result, report
