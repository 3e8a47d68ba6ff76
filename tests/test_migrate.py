"""migrate (M1) and schema-only apply tests, mirroring the reference's
migrate_test.go / schema usecase."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from swarm_spark.model import ModelError, ObjectMeta, Source, TableDest
from swarm_spark.pipeline import IngestPipeline, apply_schema, migrate
from swarm_spark.rules import EventRule, EventRuleSet, SchemaRuleRegistry, name_suffix, rule_output
from swarm_spark.sinks import TableSink


def _pipe(spark, tmp_path):
    rules = SchemaRuleRegistry()

    @rules.rule("ev")
    def ev(df):
        return rule_output(
            df,
            dataset="ds",
            table=F.concat(F.lit("t_"), F.col("kind")),
            timestamp=F.col("ts").cast("double"),
            data=F.struct("kind", "v"),
        )

    events = EventRuleSet([EventRule("all", name_suffix(".ndjson"), (Source(schema="ev"),))])
    sink = TableSink(spark, str(tmp_path / "wh"))
    return IngestPipeline(spark, events, rules, sink), sink


class TestMigrate:
    def test_default_copy(self, spark, tmp_path):
        pipe, sink = _pipe(spark, tmp_path)
        p = tmp_path / "a.ndjson"
        p.write_text(
            "\n".join(json.dumps({"kind": "a", "v": i, "ts": 1700000000 + i}) for i in range(7))
        )
        pipe.load_objects([ObjectMeta(bucket="b", name="a.ndjson", path=str(p))])
        n = migrate(spark, sink, TableDest("ds", "t_a"), TableDest("ds", "t_copy"))
        assert n == 7
        assert sink.read_table(TableDest("ds", "t_copy")).count() == 7

    def test_filtering_query(self, spark, tmp_path):
        pipe, sink = _pipe(spark, tmp_path)
        p = tmp_path / "a.ndjson"
        p.write_text(
            "\n".join(json.dumps({"kind": "a", "v": i, "ts": 1700000000 + i}) for i in range(10))
        )
        pipe.load_objects([ObjectMeta(bucket="b", name="a.ndjson", path=str(p))])
        n = migrate(
            spark,
            sink,
            TableDest("ds", "t_a"),
            TableDest("ds", "t_big"),
            query="SELECT * FROM src WHERE data.v >= 5",
        )
        assert n == 5

    def test_query_selecting_nothing_writes_nothing(self, spark, tmp_path):
        """migrate hands the sink whatever its query returns; an empty
        result counts 0 and leaves no data file in the destination."""
        pipe, sink = _pipe(spark, tmp_path)
        p = tmp_path / "a.ndjson"
        p.write_text(json.dumps({"kind": "a", "v": 1, "ts": 1700000000}))
        pipe.load_objects([ObjectMeta(bucket="b", name="a.ndjson", path=str(p))])
        dst = TableDest("ds", "t_none")
        n = migrate(
            spark, sink, TableDest("ds", "t_a"), dst, query="SELECT * FROM src WHERE false"
        )
        assert n == 0
        assert sink._data_files(dst) == []
        assert sink.read_table(dst).count() == 0

    def test_wrong_shape_rejected(self, spark, tmp_path):
        pipe, sink = _pipe(spark, tmp_path)
        p = tmp_path / "a.ndjson"
        p.write_text(json.dumps({"kind": "a", "v": 1, "ts": 1700000000}))
        pipe.load_objects([ObjectMeta(bucket="b", name="a.ndjson", path=str(p))])
        with pytest.raises(ModelError):
            migrate(spark, sink, TableDest("ds", "t_a"), TableDest("ds", "t_bad"),
                    query="SELECT id FROM src")


class TestApplySchema:
    def test_schema_applied_without_rows(self, spark, tmp_path):
        pipe, sink = _pipe(spark, tmp_path)
        p = tmp_path / "a.ndjson"
        p.write_text(
            json.dumps({"kind": "x", "v": 1, "ts": 1700000000})
            + "\n"
            + json.dumps({"kind": "y", "v": 2, "ts": 1700000001})
        )
        touched = apply_schema(pipe, [ObjectMeta(bucket="b", name="a.ndjson", path=str(p))])
        assert [(d.dataset, d.table) for d in touched] == [("ds", "t_x"), ("ds", "t_y")]
        # tables exist with schema but hold no rows
        df = sink.read_table(TableDest("ds", "t_x"))
        assert df.count() == 0
        assert [f.name for f in df.schema["data"].dataType.fields] == ["kind", "v"]

    def test_existing_table_evolves_with_zero_rows_written(self, spark, tmp_path):
        """The `swarm schema` contract: an already-populated table picks
        up newly-inferred fields via strict union, but no rows land."""
        rules = SchemaRuleRegistry()

        @rules.rule("ev")
        def ev(df):
            cols = [c for c in df.columns if c != "ts"]
            return rule_output(
                df,
                dataset="ds",
                table="logs",
                timestamp=F.col("ts").cast("double"),
                data=F.struct(*cols),
            )

        events = EventRuleSet(
            [EventRule("all", name_suffix(".ndjson"), (Source(schema="ev"),))]
        )
        sink = TableSink(spark, str(tmp_path / "wh2"))
        pipe = IngestPipeline(spark, events, rules, sink)

        p1 = tmp_path / "one.ndjson"
        p1.write_text(json.dumps({"kind": "x", "v": 1, "ts": 1700000000}))
        pipe.load_objects([ObjectMeta(bucket="b", name="one.ndjson", path=str(p1))])
        dest = TableDest("ds", "logs")
        assert sink.read_table(dest).count() == 1

        p2 = tmp_path / "two.ndjson"
        p2.write_text(json.dumps({"kind": "y", "v": 2, "extra": "new", "ts": 1700000001}))
        touched = apply_schema(pipe, [ObjectMeta(bucket="b", name="two.ndjson", path=str(p2))])
        assert [(d.dataset, d.table) for d in touched] == [("ds", "logs")]

        df = sink.read_table(dest)
        assert df.count() == 1  # no new rows
        fields = [f.name for f in df.schema["data"].dataType.fields]
        assert "extra" in fields and "kind" in fields and "v" in fields
        # the pre-existing row reads back with the evolved schema, nulled
        row = df.collect()[0]
        assert row["data"]["kind"] == "x" and row["data"]["extra"] is None
