"""Commit path of the snapshot stages and the streaming epochs.

A fresh ``run_stage`` / ``run_stage_partitioned`` call and an epoch of
``foreach_batch_incremental`` are each one write action: the committed row
counts are Observations on the write and the durable copy is read back
with the written schema. These tests pin that

* every committed count equals a count of what was written,
* the returned DataFrame has exactly the schema a schema-inferring read of
  the written parquet has (data columns, then partition columns),
* a 0-row write still yields its observed count instead of hanging,
* no job starts after the write finishes (job groups via
  ``statusTracker()``, which works with the UI off).
"""

from __future__ import annotations

import itertools
import shutil
import threading
from contextlib import contextmanager
from pathlib import Path

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from convert_spark import datagen
from convert_spark.plans.snapshots import SnapshotLog, run_stage, run_stage_partitioned
from convert_spark.streaming import ingest

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
_groups = itertools.count()


def _numbers(spark, n: int) -> DataFrame:
    return (
        spark.range(0, n, numPartitions=4)
        .withColumn("bucket", (F.col("id") % 4).cast("int"))
        .withColumn("tag", F.concat(F.lit("t"), (F.col("id") % 3).cast("string")))
        .withColumn("val", F.col("id") * 2.5)
    )


def _assert_durable(spark, out: DataFrame, path: str, rows: int) -> None:
    inferred = spark.read.parquet(path)
    assert out.schema == inferred.schema
    assert rows == inferred.count() == out.count()


def _timed(fn, seconds: float = 300.0):
    """Run ``fn`` in a thread; fail (instead of hanging the suite) when it
    does not return in time — an Observation that never fires blocks."""
    box: dict = {}

    def run():
        try:
            box["value"] = fn()
        except BaseException as e:  # re-raised on the test thread
            box["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"did not return within {seconds} s"
    if "error" in box:
        raise box["error"]
    return box["value"]


@contextmanager
def jobs_after_writes(spark, monkeypatch):
    """Tag every job by whether it started during a parquet write or after
    one. Yields ``(during, after)``: callables listing the job ids of each
    kind started so far in this block."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    tag = next(_groups)
    during, after = f"commit-test-{tag}-write", f"commit-test-{tag}-after"
    original = DataFrameWriter.parquet

    def parquet(self, *args, **kwargs):
        sc.setJobGroup(during, "parquet write")
        try:
            return original(self, *args, **kwargs)
        finally:
            sc.setJobGroup(after, "after a parquet write")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    tracker = sc.statusTracker()
    try:
        yield (lambda: list(tracker.getJobIdsForGroup(during)), lambda: list(tracker.getJobIdsForGroup(after)))
    finally:
        monkeypatch.setattr(DataFrameWriter, "parquet", original)
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


class TestStageCommit:
    def test_run_stage_plain(self, spark, tmp_path):
        log = SnapshotLog(str(tmp_path))
        out = run_stage(spark, log, "st", lambda: _numbers(spark, 1000))
        _assert_durable(spark, out, log.stage_path("st"), log.committed("st")["rows"])
        assert log.committed("st")["rows"] == 1000

    def test_run_stage_partition_by(self, spark, tmp_path):
        log = SnapshotLog(str(tmp_path))
        out = run_stage(spark, log, "st", lambda: _numbers(spark, 1000), partition_by=["tag", "bucket"])
        _assert_durable(spark, out, log.stage_path("st"), log.committed("st")["rows"])
        assert out.columns[-2:] == ["tag", "bucket"]

    def test_run_stage_pages_partition_by_lang(self, spark, tmp_path):
        log = SnapshotLog(str(tmp_path))
        out = run_stage(spark, log, "pages", lambda: datagen.webpages(spark, 200), partition_by=["lang"])
        _assert_durable(spark, out, log.stage_path("pages"), log.committed("pages")["rows"])

    def test_run_stage_partitioned_fresh(self, spark, tmp_path):
        log = SnapshotLog(str(tmp_path))
        out = run_stage_partitioned(
            spark, log, "st", lambda: _numbers(spark, 1000), "bucket", partition_values=[0, 1, 2, 3], chunk_size=3
        )
        snap = log.committed("st")
        _assert_durable(spark, out, log.stage_path("st"), snap["rows"])
        assert snap["resumed_partitions"] == []
        assert sum(r["rows"] for r in log._partition_records("st")) == snap["rows"] == 1000

    def test_run_stage_partitioned_resumed_after_kill(self, spark, tmp_path):
        root = Path(tmp_path)
        log = SnapshotLog(str(root))
        run_stage_partitioned(spark, log, "st", lambda: _numbers(spark, 1000), "bucket",
                              partition_values=[0, 1, 2, 3], chunk_size=1)
        # the kill: bucket 2 and every stage snapshot lost
        shutil.rmtree(root / "st" / "bucket=2")
        (root / "_snapshots" / "part-st-2.json").unlink()
        for p in (root / "_snapshots").glob("snapshot-*.json"):
            p.unlink()
        log2 = SnapshotLog(str(root))
        out = run_stage_partitioned(spark, log2, "st", lambda: _numbers(spark, 1000), "bucket",
                                    partition_values=[0, 1, 2, 3], chunk_size=1)
        snap = log2.committed("st")
        assert snap["resumed_partitions"] == ["0", "1", "3"]
        _assert_durable(spark, out, log2.stage_path("st"), snap["rows"])
        assert snap["rows"] == 1000  # the resumed groups on disk count too

    def test_zero_row_stages(self, spark, tmp_path):
        log = SnapshotLog(str(tmp_path))
        empty = lambda: _numbers(spark, 1000).filter(F.col("id") < 0)  # noqa: E731
        out = _timed(lambda: run_stage(spark, log, "plain", empty))
        assert log.committed("plain")["rows"] == 0
        _assert_durable(spark, out, log.stage_path("plain"), 0)
        _timed(lambda: run_stage(spark, log, "parted", empty, partition_by=["bucket"]))
        assert log.committed("parted")["rows"] == 0
        _timed(lambda: run_stage_partitioned(spark, log, "groups", empty, "bucket", partition_values=[0, 1]))
        snap = log.committed("groups")
        assert snap["rows"] == 0 and [r["rows"] for r in log._partition_records("groups")] == [0]


def _epoch_batches(spark):
    pages = datagen.webpages(spark, 240)
    return [
        pages.filter(F.col("page_id") % 3 == 0),
        pages.filter(F.col("page_id") % 3 == 1),
        pages.filter(F.col("page_id") % 3 == 2),
        pages.filter(F.col("page_id") < 0),  # an empty epoch
    ]


def _epoch_handler(spark, state: Path):
    stream = ingest.read_page_stream(spark, str(state / "landing"), max_files_per_trigger=1)
    return ingest.foreach_batch_incremental(stream, str(state), zoom=8)._convert_spark_handle


class TestEpochCommit:
    def test_epoch_counts_match_batch_and_state(self, spark, tmp_path):
        (tmp_path / "landing").mkdir()
        handle = _epoch_handler(spark, tmp_path)
        batches = _epoch_batches(spark)
        for epoch, batch in enumerate(batches):
            _timed(lambda: handle(batch, epoch))
            rec = SnapshotLog(str(tmp_path / "_log")).latest()
            assert rec["stage"] == f"epoch-{epoch}"
            assert rec["rows_in"] == batch.count()
            assert rec["n_tiles"] == spark.read.parquet(str(tmp_path / f"v{epoch}")).count() > 0
        # the state written from the analysed schema reads back unchanged
        last = spark.read.parquet(str(tmp_path / f"v{len(batches) - 1}"))
        prev = spark.read.parquet(str(tmp_path / f"v{len(batches) - 2}"))
        assert last.schema == prev.schema
        assert sorted(last.collect()) == sorted(prev.collect())  # the empty epoch changed nothing


class TestNoJobAfterWrite:
    """Job-count guard: a stage commit or an epoch starts no job once its
    write has finished (no read-back count, no schema inference)."""

    def test_guard_sees_a_count_after_a_write(self, spark, tmp_path, monkeypatch):
        with jobs_after_writes(spark, monkeypatch) as (during, after):
            _numbers(spark, 100).write.parquet(str(tmp_path / "x"))
            assert during() and not after()
            spark.read.parquet(str(tmp_path / "x")).count()
            assert after()

    def test_run_stage(self, spark, tmp_path, monkeypatch):
        log = SnapshotLog(str(tmp_path))
        with jobs_after_writes(spark, monkeypatch) as (during, after):
            run_stage(spark, log, "a", lambda: _numbers(spark, 500))
            run_stage(spark, log, "b", lambda: _numbers(spark, 500).groupBy("tag").count(), partition_by=["tag"])
            assert during() and after() == []

    def test_run_stage_partitioned(self, spark, tmp_path, monkeypatch):
        log = SnapshotLog(str(tmp_path))
        with jobs_after_writes(spark, monkeypatch) as (during, after):
            run_stage_partitioned(spark, log, "p", lambda: _numbers(spark, 500), "bucket",
                                  partition_values=[0, 1, 2, 3], chunk_size=2)
            assert during() and after() == []

    def test_epoch_handler(self, spark, tmp_path, monkeypatch):
        (tmp_path / "landing").mkdir()
        handle = _epoch_handler(spark, tmp_path)
        for epoch, batch in enumerate(_epoch_batches(spark)[:2]):
            with jobs_after_writes(spark, monkeypatch) as (during, after):
                handle(batch, epoch)
                assert during() and after() == [], f"epoch {epoch}"
