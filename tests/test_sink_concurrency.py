"""TableSink under concurrency: schema-CAS under concurrent evolution
(Q4's ETag analogue), concurrent appends to one table, and the
observed-count write path every append goes through."""

from __future__ import annotations

import os
import sys
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from swarm_spark.model import TableDest
from swarm_spark.sinks import DumpSink, TableSink
from swarm_spark.sinks.table import STAGED_PREFIX


def s(*names):
    return T.StructType([T.StructField(n, T.StringType(), True) for n in names])


class TestConcurrentEvolve:
    def test_parallel_ensure_table_unions_all_fields(self, spark, tmp_path):
        sink = TableSink(spark, str(tmp_path / "wh"))
        dest = TableDest("ds", "t")
        errs = []

        def evolve(field):
            try:
                sink.ensure_table(dest, s("base", field))
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [threading.Thread(target=evolve, args=(f"c{i}",)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs
        final = sink._read_schema(dest)["data"].dataType
        names = {f.name for f in final.fields}
        # every writer's column survived the race: lock serializes the
        # read-merge-write, so no evolution is lost
        assert names == {"base"} | {f"c{i}" for i in range(8)}


class TestTableLock:
    """Schema-lock staleness/heartbeat protocol (ADVICE r5: a SIGKILLed
    compact used to wedge the table forever; release had a
    check-then-remove gap)."""

    def test_stale_lock_is_broken_not_fatal(self, spark, tmp_path):
        import os
        import time as _time

        from swarm_spark.sinks.table import LOCK_FILE

        sink = TableSink(spark, str(tmp_path / "wh"))
        dest = TableDest("ds", "t")
        sink.ensure_table(dest, s("a"))
        lock = f"{sink._dir(dest)}/{LOCK_FILE}"
        with open(lock, "w") as f:
            f.write("dead-compact")
        old = _time.time() - 3600
        os.utime(lock, (old, old))
        # would previously time out after 30 s and raise ModelError
        sink.ensure_table(dest, s("a", "b"))
        names = {f.name for f in sink._read_schema(dest)["data"].dataType.fields}
        assert names == {"a", "b"}
        assert not os.path.exists(lock)

    def test_heartbeat_keeps_long_hold_fresh(self, tmp_path, monkeypatch):
        import time as _time

        from swarm_spark.sinks import table as tbl

        monkeypatch.setattr(tbl, "LOCK_STALE_S", 0.4)
        monkeypatch.setattr(tbl, "_HEARTBEAT_S", 0.1)
        lock = tbl._TableLock(str(tmp_path / "t.lock")).acquire(timeout_s=1.0)
        try:
            _time.sleep(0.9)  # > LOCK_STALE_S without heartbeat
            # a second waiter must NOT break the heartbeating holder
            waiter = tbl._TableLock(str(tmp_path / "t.lock"))
            try:
                waiter.acquire(timeout_s=0.3)
                raise AssertionError("waiter stole a live heartbeating lock")
            except Exception as e:  # noqa: BLE001
                assert "timeout" in str(e)
        finally:
            lock.release()
        # after release the path is free immediately
        tbl._TableLock(str(tmp_path / "t.lock")).acquire(timeout_s=0.5).release()

    def test_release_never_deletes_replacement_lock(self, tmp_path):
        import os

        from swarm_spark.sinks import table as tbl

        path = str(tmp_path / "t.lock")
        lock = tbl._TableLock(path).acquire(timeout_s=1.0)
        # simulate: broken as stale, another holder created a new lock
        os.remove(path)
        with open(path, "w") as f:
            f.write("new-holder-token")
        lock.release()
        assert os.path.exists(path), "release deleted a lock it no longer owns"
        with open(path) as f:
            assert f.read() == "new-holder-token"


DATA = T.StructType([T.StructField("v", T.LongType(), True)])


def _rows(spark, n, tag, day="2024-01-01"):
    return spark.range(0, n, 1, 4).select(
        F.concat(F.lit(f"{tag}-"), F.col("id").cast("string")).alias("id"),
        F.lit("ing").alias("ingest_id"),
        # spread over two days so each write touches two partitions
        (F.lit(f"{day} 00:00:00").cast("timestamp") + F.expr("make_interval(0, 0, 0, id % 2)"))
        .alias("timestamp"),
        F.lit("2024-01-03 00:00:00").cast("timestamp").alias("ingested_at"),
        F.struct(F.col("id").alias("v")).alias("data"),
    )


def _listing(d):
    data, staged = [], []
    for root, dirs, files in os.walk(d):
        staged += [x for x in dirs if x.startswith(STAGED_PREFIX)]
        data += [f for f in files if not f.startswith(("_", "."))]
    return data, staged


class TestConcurrentAppend:
    def test_threads_append_to_one_partitioned_table(self, spark, tmp_path):
        """Concurrent appends used to share the table's Hadoop
        ``_temporary`` dir: the first job commit deleted the other jobs'
        attempt files, failing them or losing their rows. Each append
        now writes into a staged dir of its own and promotes it."""
        sink = TableSink(spark, str(tmp_path / "wh"))
        dest = TableDest("ds", "t", "day")
        sink.ensure_table(dest, DATA)
        errs, counts = [], []
        writers = 6  # more than the test session's 4 cores
        barrier = threading.Barrier(writers, timeout=60)

        def append(tag):
            try:
                barrier.wait()
                for k in range(2):
                    counts.append(sink.append(dest, _rows(spark, 200, f"{tag}{k}")))
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [threading.Thread(target=append, args=(f"w{i}",)) for i in range(writers)]
        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
        finally:
            sys.setswitchinterval(switch)
        assert not any(t.is_alive() for t in threads)
        assert not errs
        assert counts == [200] * 12
        df = sink.read_table(dest)
        assert df.count() == 2400
        assert df.select("id").distinct().count() == 2400
        _, staged = _listing(sink._dir(dest))
        assert not staged


class TestFailedAppend:
    def test_failed_write_leaves_no_staged_dir(self, spark, tmp_path):
        sink = TableSink(spark, str(tmp_path / "wh"))
        dest = TableDest("ds", "t", "day")
        sink.ensure_table(dest, DATA)
        bad = _rows(spark, 8, "x").withColumn(
            "data", F.struct(F.raise_error(F.lit("boom")).cast("long").alias("v"))
        )
        with pytest.raises(Exception, match="boom"):
            sink.append(dest, bad)
        assert _listing(sink._dir(dest)) == ([], [])
        assert sink.append(dest, _rows(spark, 3, "y")) == 3


class TestEmptySlice:
    """An empty slice returns 0 and leaves no data file, even though
    the count now comes from the write itself: Spark writes a
    schema-only part file for an empty unpartitioned write."""

    @pytest.mark.parametrize("unit", ["", "day"])
    def test_append_and_stage_of_empty_frame(self, spark, tmp_path, unit):
        sink = TableSink(spark, str(tmp_path / "wh"))
        dest = TableDest("ds", "t", unit)
        sink.ensure_table(dest, DATA)
        empty = _rows(spark, 5, "x").where(F.lit(False))
        assert sink.append(dest, empty) == 0
        txn = sink.transaction()
        assert txn.stage(dest, empty) == 0
        txn.commit()
        data, staged = _listing(sink._dir(dest))
        assert data == [] and staged == []
        assert sink.read_table(dest).count() == 0
        # a non-empty write after it still counts exactly
        assert sink.append(dest, _rows(spark, 6, "y")) == 6
        assert sink.read_table(dest).count() == 6

    def test_dump_sink_counts_through_the_write(self, spark, tmp_path):
        sink = DumpSink(spark, str(tmp_path / "dump"))
        dest = TableDest("ds", "t")
        sink.ensure_table(dest, DATA)
        assert sink.append(dest, _rows(spark, 4, "d")) == 4
        assert sink.append(dest, _rows(spark, 4, "e").where(F.lit(False))) == 0
        assert sink.read_table(dest).count() == 4
