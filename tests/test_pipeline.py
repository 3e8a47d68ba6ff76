"""End-to-end ingest pipeline tests.

Mirrors the reference's TestLoadData
(/root/reference/pkg/usecase/load_test.go:54-128): a CloudTrail-style
envelope object flows through event rules → schema rule (Records[_]
fan-out) → envelope → evolving table, asserting row counts, exact ids,
and the stripped/evolved schema. The fixture is synthesized here from
the field inventory in FIXTURES.md F2 (not copied from the reference).
"""

from __future__ import annotations

import gzip
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from swarm_spark.model import ObjectMeta, Source, TableDest
from swarm_spark.pipeline import IngestPipeline, META_DEST
from swarm_spark.rules import (
    EventRule,
    EventRuleSet,
    NoRuleMatchError,
    SchemaRuleRegistry,
    bucket,
    name_prefix,
    name_suffix,
    rule_output,
)
from swarm_spark.sinks import DumpSink, TableSink

EVENT_IDS = [
    "ac3cfd93-435d-41cc-bbd7-aad0340ec668",
    "18e67b09-94a3-4b5c-9b3a-cd549b3341fb",
    "dbb28938-5ed4-4774-8bb6-82ea916b21bb",
    "d4dacb9d-9822-4217-b88d-d334bde89755",
]


def make_cloudtrail_record(i: int, event_id: str) -> dict:
    rec = {
        "eventVersion": "1.07",
        "userIdentity": {"type": "AWSService", "invokedBy": "cloudtrail"},
        "eventTime": f"2020-03-02T23:55:5{i}Z",
        "eventSource": "s3.test",
        "eventName": "PutObject",
        "awsRegion": "ap-northeast-1",
        "sourceIPAddress": "cloudtrail.test",
        "userAgent": "cloudtrail.test",
        "requestParameters": {
            "bucketName": f"bucket-{i}",
            "Host": "s3.test",
            "key": f"objects/{i}.json.gz",
        },
        "responseElements": None,  # stripped before inference (T1)
        "additionalEventData": {
            "SignatureVersion": "SigV4",
            "bytesTransferredIn": 1024.5 + i,
            "bytesTransferredOut": 0.0,
        },
        "requestID": f"REQ{i}",
        "eventID": event_id,
        "readOnly": False,
        "eventType": "AwsApiCall",
        "managementEvent": False,
        "recipientAccountId": "123456789012",
        "eventCategory": "Data",
    }
    if i > 0:  # heterogeneous array: first element lacks accountId (F2)
        rec["resources"] = [
            {"type": "AWS::S3::Object", "ARN": f"arn:aws:s3:::b/{i}"},
            {"accountId": "123456789012", "type": "AWS::S3::Bucket", "ARN": "arn:aws:s3:::b"},
        ]
    else:
        rec["resources"] = [{"type": "AWS::S3::Object", "ARN": "arn:aws:s3:::b/0"}]
    return rec


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("objects")
    doc = {"Records": [make_cloudtrail_record(i, eid) for i, eid in enumerate(EVENT_IDS)]}
    plain = d / "cloudtrail_example.json"
    plain.write_text(json.dumps(doc))
    gz = d / "cloudtrail_example2.json.gz"
    with gzip.open(gz, "wt") as f:
        f.write(json.dumps(doc))
    return str(plain), str(gz)


def make_rules():
    rules = SchemaRuleRegistry()

    @rules.rule("cloudtrail")
    def cloudtrail(df):
        rec = df.select(F.explode("Records").alias("r"))
        return rule_output(
            rec,
            dataset="my_dataset",
            table="cloudtrail",
            partition="month",
            id=F.col("r.eventID"),
            timestamp=F.to_timestamp("r.eventTime").cast("double"),
            data=F.col("r"),
        )

    events = EventRuleSet(
        [
            EventRule(
                "cloudtrail-logs",
                bucket("my-bucket") & name_suffix(".json"),
                (Source(schema="cloudtrail"),),
            ),
            EventRule(
                "cloudtrail-logs-gz",
                bucket("my-bucket") & name_suffix(".json.gz"),
                (Source(schema="cloudtrail", compress="gzip"),),
            ),
        ]
    )
    return events, rules


class TestIngestE2E:
    @pytest.fixture(scope="class")
    def result(self, spark, fixture_paths, tmp_path_factory):
        wh = str(tmp_path_factory.mktemp("warehouse"))
        events, rules = make_rules()
        sink = TableSink(spark, wh)
        pipe = IngestPipeline(
            spark, events, rules, sink, json_mode="whole", write_load_log=True
        )
        objs = [
            ObjectMeta(bucket="my-bucket", name="a.json", path=fixture_paths[0]),
            ObjectMeta(bucket="my-bucket", name="b.json.gz", path=fixture_paths[1]),
        ]
        stats = pipe.load_objects(objs)
        return sink, stats

    def test_counts(self, result):
        sink, stats = result
        # 2 objects × 4 records (load_test.go asserts 4 per object)
        assert stats.objects == 2
        assert stats.total_rows == 8
        assert stats.rows_by_dest == {("my_dataset", "cloudtrail", "month"): 8}

    def test_exact_ids(self, result, spark):
        sink, _ = result
        df = sink.read_table(TableDest("my_dataset", "cloudtrail", "month"))
        got = [r["id"] for r in df.orderBy("timestamp").collect()]
        # each object contributes the same 4 eventIDs, ordered by eventTime
        assert got == [i for eid in EVENT_IDS for i in [eid, eid]]

    def test_envelope_schema(self, result):
        sink, _ = result
        df = sink.read_table(TableDest("my_dataset", "cloudtrail", "month"))
        assert df.columns == ["id", "ingest_id", "timestamp", "ingested_at", "data"]
        data = df.schema["data"].dataType
        names = [f.name for f in data.fields]
        assert "responseElements" not in names  # T1: null field stripped
        res = data["resources"].dataType.elementType
        assert sorted(f.name for f in res.fields) == ["ARN", "accountId", "type"]

    def test_timestamps(self, result):
        sink, _ = result
        df = sink.read_table(TableDest("my_dataset", "cloudtrail", "month"))
        ts = df.select(F.min("timestamp").alias("t")).collect()[0]["t"]
        assert ts.isoformat().startswith("2020-03-02T23:55:50")

    def test_load_log(self, result):
        sink, stats = result
        meta = sink.read_table(META_DEST)
        rows = meta.collect()
        assert len(rows) == 1
        assert rows[0]["ingest_id"] == stats.ingest_id
        assert rows[0]["data"]["total_rows"] == 8


class TestEvolution:
    def test_schema_evolves_across_batches(self, spark, tmp_path):
        # FIXTURES.md F6: {red,blue} → +{orange} → +{black}
        wh = str(tmp_path / "wh")
        sink = TableSink(spark, wh)
        rules = SchemaRuleRegistry()

        @rules.rule("colors")
        def colors(df):
            return rule_output(
                df,
                dataset="ds",
                table="colors",
                timestamp=F.lit(1559347200.0),
                data=F.struct(*[F.col(c) for c in df.columns]),
            )

        events = EventRuleSet([EventRule("all", name_suffix(".ndjson"), (Source(schema="colors"),))])
        pipe = IngestPipeline(spark, events, rules, sink)

        batches = [
            {"red": "r1", "blue": "b1"},
            {"red": "r2", "orange": "o1"},
            {"black": "k1"},
        ]
        for i, rec in enumerate(batches):
            p = tmp_path / f"batch{i}.ndjson"
            p.write_text(json.dumps(rec) + "\n")
            pipe.load_objects([ObjectMeta(bucket="b", name=f"batch{i}.ndjson", path=str(p))])

        df = sink.read_table(TableDest("ds", "colors"))
        fields = [f.name for f in df.schema["data"].dataType.fields]
        # within one inferred batch Spark sorts field names; the pinned
        # merge property (migrate_test.go:103-112) is existing-keep-
        # position + new-appended-in-arrival-order:
        assert fields == ["blue", "red", "orange", "black"]
        rows = {r["id"]: r["data"] for r in df.collect()}
        assert len(rows) == 3
        vals = {(d["red"], d["blue"], d["orange"], d["black"]) for d in rows.values()}
        assert vals == {
            (None, None, None, "k1"),
            ("r1", "b1", None, None),
            ("r2", None, "o1", None),
        }

    def test_type_conflict_rejected(self, spark, tmp_path):
        from swarm_spark.pipeline import IngestPartialFailure
        from swarm_spark.schema import SchemaConflictError

        wh = str(tmp_path / "wh2")
        sink = TableSink(spark, wh)
        rules = SchemaRuleRegistry()

        @rules.rule("strictint")
        def strictint(df):
            return rule_output(
                df,
                dataset="ds",
                table="t",
                timestamp=F.lit(1.0),
                data=F.struct(F.col("age")),
            )

        events = EventRuleSet([EventRule("all", name_suffix(".ndjson"), (Source(schema="strictint"),))])
        pipe = IngestPipeline(spark, events, rules, sink)

        p1 = tmp_path / "c1.ndjson"
        p1.write_text('{"age": 12}\n')
        pipe.load_objects([ObjectMeta(bucket="b", name="c1.ndjson", path=str(p1))])
        p2 = tmp_path / "c2.ndjson"
        p2.write_text('{"age": "twelve"}\n')
        with pytest.raises(IngestPartialFailure) as ei:
            pipe.load_objects([ObjectMeta(bucket="b", name="c2.ndjson", path=str(p2))])
        assert isinstance(ei.value.__cause__, SchemaConflictError)

    def test_partial_failure_other_destinations_still_written(self, spark, tmp_path):
        """One conflicting destination must not block the others; the
        error surfaces with per-destination detail after all attempts
        (reference load.go:100-130 semantics)."""
        from swarm_spark.pipeline import IngestPartialFailure

        wh = str(tmp_path / "wh3")
        sink = TableSink(spark, wh)
        rules = SchemaRuleRegistry()

        @rules.rule("bykind2")
        def bykind2(df):
            return rule_output(
                df,
                dataset="ds",
                table=F.concat(F.lit("p_"), F.col("kind")),
                timestamp=F.lit(1.0),
                data=F.struct("kind", "payload"),
            )

        events = EventRuleSet(
            [EventRule("all", name_suffix(".ndjson"), (Source(schema="bykind2"),))]
        )
        pipe = IngestPipeline(spark, events, rules, sink)
        # seed p_b with payload as long
        p1 = tmp_path / "s1.ndjson"
        p1.write_text(json.dumps({"kind": "b", "payload": 1}) + "\n")
        pipe.load_objects([ObjectMeta(bucket="x", name="s1.ndjson", path=str(p1))])
        # batch routes to p_a (fresh, ok) and p_b (payload now string → conflict)
        p2 = tmp_path / "s2.ndjson"
        p2.write_text(
            json.dumps({"kind": "a", "payload": "fine"})
            + "\n"
            + json.dumps({"kind": "b", "payload": "boom"})
            + "\n"
        )
        with pytest.raises(IngestPartialFailure) as ei:
            pipe.load_objects([ObjectMeta(bucket="x", name="s2.ndjson", path=str(p2))])
        # the healthy destination WAS written before the error surfaced
        assert ei.value.stats.rows_by_dest == {("ds", "p_a", ""): 1}
        assert sink.read_table(TableDest("ds", "p_a")).count() == 1
        assert sink.read_table(TableDest("ds", "p_b")).count() == 1  # only the seed
        assert "p_b" in str(ei.value)


class TestRouting:
    def test_dynamic_multi_table_routing(self, spark, tmp_path):
        """G1: per-record table choice from a data value (dynamic)."""
        wh = str(tmp_path / "wh3")
        sink = TableSink(spark, wh)
        rules = SchemaRuleRegistry()

        @rules.rule("bykind")
        def bykind(df):
            return rule_output(
                df,
                dataset="logs",
                table=F.concat(F.lit("t_"), F.col("kind")),
                timestamp=F.col("ts").cast("double"),
                data=F.struct("kind", "v"),
            )

        events = EventRuleSet([EventRule("all", name_suffix(".ndjson"), (Source(schema="bykind"),))])
        pipe = IngestPipeline(spark, events, rules, sink)

        p = tmp_path / "mix.ndjson"
        p.write_text(
            "\n".join(
                json.dumps({"kind": k, "v": i, "ts": 1700000000 + i})
                for i, k in enumerate(["a", "b", "a", "c", "b", "a"])
            )
        )
        stats = pipe.load_objects([ObjectMeta(bucket="b", name="mix.ndjson", path=str(p))])
        assert stats.rows_by_dest == {
            ("logs", "t_a", ""): 3,
            ("logs", "t_b", ""): 2,
            ("logs", "t_c", ""): 1,
        }
        assert sink.read_table(TableDest("logs", "t_a")).count() == 3

    def test_no_rule_match_strict(self, spark, tmp_path):
        events, rules = make_rules()
        pipe = IngestPipeline(spark, events, rules, DumpSink(spark, str(tmp_path / "d")))
        with pytest.raises(NoRuleMatchError):
            pipe.load_objects([ObjectMeta(bucket="other", name="x.txt")])


class TestDumpSink:
    def test_dump_writes_log_and_schema(self, spark, tmp_path, fixture_paths):
        out = str(tmp_path / "dump")
        events, rules = make_rules()
        sink = DumpSink(spark, out)
        pipe = IngestPipeline(spark, events, rules, sink, json_mode="whole")
        pipe.load_objects([ObjectMeta(bucket="my-bucket", name="a.json", path=fixture_paths[0])])
        import os

        assert os.path.isdir(os.path.join(out, "my_dataset.cloudtrail.log"))
        with open(os.path.join(out, "my_dataset.cloudtrail.schema.json")) as f:
            schema = T.StructType.fromJson(json.load(f))
        assert [f.name for f in schema.fields] == [
            "id",
            "ingest_id",
            "timestamp",
            "ingested_at",
            "data",
        ]
        assert sink.read_table(TableDest("my_dataset", "cloudtrail")).count() == 4


class TestJobBudget:
    """Spark jobs of one ``load_objects`` batch, counted from
    ``statusTracker`` under the caller's job group. The fixed part:
    1 JSON inference scan, 2 for the R3 validation probe (limit + count),
    and 3 for the one grouped profile (cache fill, shuffle map, result).
    Each destination adds exactly its write job, which also counts its
    rows; a per-destination strip aggregation or ``count()`` would add
    one more job per destination and break the budget."""

    FIXED_JOBS = 6

    def test_jobs_per_batch_stay_in_the_callers_group(self, spark, tmp_path):
        import uuid

        sink = TableSink(spark, str(tmp_path / "wh"))
        rules = SchemaRuleRegistry()

        @rules.rule("bykind")
        def bykind(df):
            return rule_output(
                df,
                dataset="logs",
                table=F.concat(F.lit("t_"), F.col("kind")),
                partition="day",
                timestamp=F.col("ts").cast("double"),
                data=F.struct("kind", "v", "extra"),
            )

        events = EventRuleSet([EventRule("all", name_suffix(".ndjson"), (Source(schema="bykind"),))])
        pipe = IngestPipeline(spark, events, rules, sink)
        p = tmp_path / "mix.ndjson"
        p.write_text(
            "\n".join(
                json.dumps(
                    {"kind": "abc"[i % 3], "v": i, "extra": [i] if i % 2 else None, "ts": 1700000000 + 3600 * i}
                )
                for i in range(30)
            )
        )
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        group = f"budget-{uuid.uuid4().hex}"
        ungrouped = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(group, "job budget")
        try:
            stats = pipe.load_objects([ObjectMeta(bucket="b", name="mix.ndjson", path=str(p))])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert stats.rows_by_dest == {("logs", f"t_{k}", "day"): 10 for k in "abc"}
        jobs = tracker.getJobIdsForGroup(group)
        assert len(jobs) <= self.FIXED_JOBS + len(stats.rows_by_dest), sorted(jobs)
        # the concurrent appends ran on pool threads, yet no job left
        # the caller's group
        assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
