"""Commit path of the snapshot stages and the streaming epochs.

A fresh ``run_stage`` / ``run_stage_partitioned`` call and an epoch of
``foreach_batch_incremental`` are each one write action: the committed row
counts are Observations on the write and the durable copy is read back
with the written schema. These tests pin that

* every committed count equals a count of what was written,
* the returned DataFrame has exactly the schema a schema-inferring read of
  the written parquet has (data columns, then partition columns),
* a 0-row write still yields its observed count instead of hanging, and
  a per-partition stage with no partition value commits 0 rows,
* no job starts after the write finishes (job groups via
  ``statusTracker()``, which works with the UI off),
* the stage rules of ``plans.snapshots``: an attempt resumes only its own
  params' partition records, the overwrite mode never touches the session,
  a committed stage returns the fresh schema without a job, and partition
  records are exact per (stage, values),
* a torn ``_LATEST`` pointer write leaves the previous pointer.
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
from pyspark.sql import types as T
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


def jobs_started(spark, fn) -> list[int]:
    """Ids of the jobs ``fn()`` starts, read once the listener bus has
    delivered every event (the status store is updated asynchronously)."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    group = f"commit-test-{next(_groups)}-call"
    sc.setJobGroup(group, "call under test")
    try:
        fn()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _buckets(spark, n_buckets: int, mult: int, per_bucket: int = 20) -> DataFrame:
    return (
        spark.range(0, n_buckets * per_bucket, numPartitions=2)
        .withColumn("bucket", (F.col("id") % n_buckets).cast("int"))
        .withColumn("val", F.col("id") * mult)
    )


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

    def test_empty_partition_set(self, spark, tmp_path):
        """No partition value, so no group is written: the stage commits 0
        rows and returns an empty frame with the built schema; a rerun
        starts no job."""
        build = lambda: spark.range(10).filter("id < 0").withColumn("g", F.col("id") % 2)  # noqa: E731
        run = lambda: run_stage_partitioned(spark, SnapshotLog(str(tmp_path)), "st", build, "g")  # noqa: E731
        out = _timed(run)
        assert SnapshotLog(str(tmp_path)).committed("st")["rows"] == 0
        assert out.schema == T.StructType([T.StructField(f.name, f.dataType) for f in build().schema])
        assert out.collect() == []
        assert jobs_started(spark, run) == []
        assert run().schema == out.schema and run().collect() == []


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

    def test_torn_pointer_write_keeps_previous_pointer(self, spark, tmp_path, monkeypatch):
        (tmp_path / "landing").mkdir()
        handle = _epoch_handler(spark, tmp_path)
        batches = _epoch_batches(spark)
        handle(batches[0], 0)
        original = Path.write_text

        def torn(self, data, *args, **kwargs):  # truncates, then fails
            original(self, "")
            raise OSError("disk full")

        monkeypatch.setattr(Path, "write_text", torn)
        with pytest.raises(OSError):
            handle(batches[1], 1)
        monkeypatch.setattr(Path, "write_text", original)
        assert (tmp_path / "_LATEST").read_text() == "0"
        torn_v1 = sorted(spark.read.parquet(str(tmp_path / "v1")).collect())
        handle(batches[1], 1)  # the replayed epoch folds onto v0
        assert SnapshotLog(str(tmp_path / "_log")).latest()["lineage"] == ["pages-stream", "v0"]
        assert sorted(spark.read.parquet(str(tmp_path / "v1")).collect()) == torn_v1


class TestStageRules:
    """One commit body for both runners: stale state, the overwrite mode,
    the committed schema and exact partition records."""

    def test_params_change_shrinks_partition_set(self, spark, tmp_path):
        run_stage_partitioned(spark, SnapshotLog(str(tmp_path)), "st", lambda: _buckets(spark, 4, 2), "bucket",
                              partition_values=[0, 1, 2, 3], params={"p": 1}, chunk_size=1)
        log = SnapshotLog(str(tmp_path))
        out = run_stage_partitioned(spark, log, "st", lambda: _buckets(spark, 2, 3), "bucket",
                                    partition_values=[0, 1], params={"p": 2}, chunk_size=1)
        assert out.count() == log.committed("st")["rows"] == 40
        assert sorted(out.select("id", "bucket", "val").collect()) == sorted(_buckets(spark, 2, 3).collect())
        assert sorted(p.name for p in (tmp_path / "st").glob("bucket=*")) == ["bucket=0", "bucket=1"]
        assert [r["params"] for r in log._partition_records("st")] == [{"p": 2}, {"p": 2}]

    def test_session_overwrite_mode_unchanged(self, spark, tmp_path, monkeypatch):
        key = "spark.sql.sources.partitionOverwriteMode"
        modes = []
        original = DataFrameWriter.parquet

        def parquet(self, *args, **kwargs):
            modes.append(spark.conf.get(key))
            return original(self, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        run_stage_partitioned(spark, SnapshotLog(str(tmp_path)), "st", lambda: _numbers(spark, 200), "bucket",
                              partition_values=[0, 1, 2, 3], chunk_size=2)
        assert len(modes) == 2 and all(m.lower() == "static" for m in modes), modes

    def test_resumed_schema_equals_fresh(self, spark, tmp_path):
        build = lambda: spark.range(0, 100).withColumn("g", F.col("id") % 3)  # noqa: E731 (g: bigint)
        plain = lambda: run_stage(spark, SnapshotLog(str(tmp_path)), "plain", build, partition_by=["g"])  # noqa: E731
        parted = lambda: run_stage_partitioned(  # noqa: E731
            spark, SnapshotLog(str(tmp_path)), "parted", build, "g", partition_values=[0, 1, 2]
        )
        for run in (plain, parted):
            fresh = run()
            assert fresh.schema["g"].dataType == T.LongType()
            assert run().schema == fresh.schema

    def test_committed_stages_run_no_job(self, spark, tmp_path):
        def stages():
            log = SnapshotLog(str(tmp_path))
            run_stage(spark, log, "plain", lambda: _numbers(spark, 200), partition_by=["tag"])
            run_stage_partitioned(spark, log, "parted", lambda: _numbers(spark, 200), "bucket",
                                  partition_values=[0, 1, 2, 3], chunk_size=2)

        stages()
        assert jobs_started(spark, stages) == []

    def test_record_names_do_not_collide(self, spark, tmp_path):
        # values sharing their first 80 characters
        prefix = "x" * 80
        key = F.concat(F.lit(prefix), (F.col("id") % 2).cast("string"))
        build = lambda: _numbers(spark, 40).withColumn("key", key)  # noqa: E731
        log = SnapshotLog(str(tmp_path))
        run_stage_partitioned(spark, log, "long", build, "key", chunk_size=1)
        assert sorted(v for r in log._partition_records("long") for v in r["values"]) == [prefix + "0", prefix + "1"]
        for p in (tmp_path / "_snapshots").glob("snapshot-*.json"):  # the crash before the stage commit
            p.unlink()
        log = SnapshotLog(str(tmp_path))
        out = run_stage_partitioned(spark, log, "long", build, "key", chunk_size=1)
        snap = log.committed("long")
        assert snap["resumed_partitions"] == [prefix + "0", prefix + "1"]
        assert snap["rows"] == out.count() == 40

    def test_records_selected_by_stage_field(self, spark, tmp_path):
        # stage "st-b"'s records also match the file-name prefix "part-st-"
        log = SnapshotLog(str(tmp_path))
        run_stage_partitioned(spark, log, "st-b", lambda: _buckets(spark, 2, 1), "bucket", partition_values=[0, 1])
        out = run_stage_partitioned(spark, log, "st", lambda: _buckets(spark, 2, 1), "bucket", partition_values=[0, 1])
        snap = log.committed("st")
        assert snap["resumed_partitions"] == [] and snap["rows"] == out.count() == 40
        assert [r["stage"] for r in log._partition_records("st")] == ["st"]


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


def test_no_session_conf_set():
    """A session conf set by one stage leaks into every thread of the
    session: settings ride on the write or the plan (an option, a hint)."""
    repo = Path(__file__).resolve().parent.parent
    hits = [
        f"{p.relative_to(repo)}:{i}"
        for d in ("convert_spark", "jobs")
        for p in sorted((repo / d).rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "conf.set(" in line
    ]
    assert hits == []
