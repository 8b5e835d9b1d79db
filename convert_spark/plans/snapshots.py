"""Iceberg-style snapshot/commit log — resumable pipeline checkpoints.

north_rule requirement: "checkpoints per-partition progress with lineage
and throughput metrics to resumable Iceberg commit snapshots". No Iceberg
runtime jars exist in this sandbox (SURVEY.md §7.0), so this is a minimal
from-scratch commit protocol with the same shape:

* a pipeline writes each stage's output as parquet under
  ``<root>/<stage>/`` (optionally partitioned),
* a JSON *snapshot* is committed to ``<root>/_snapshots/snapshot-N.json``
  AFTER the stage data is fully written (commit-last = atomicity: a crash
  mid-write leaves no snapshot, so the re-run overwrites and re-commits),
* each snapshot records: snapshot id, parent id, stage name, row count,
  wall seconds, rows/sec, input lineage (parent stage names), and the
  per-partition file manifest (path, size) of what was written,
* ``run_stage`` skips stages that already have a committed snapshot and
  returns the committed data — idempotent resume (SURVEY.md §5.3.5).

The log is a driver-side construct (one JSON per stage commit — tiny);
the data path is plain distributed parquet.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SnapshotLog:
    def __init__(self, root: str):
        self.root = Path(root)
        self.snap_dir = self.root / "_snapshots"
        self.snap_dir.mkdir(parents=True, exist_ok=True)

    def _snapshots(self) -> list[dict]:
        out = []
        for p in sorted(self.snap_dir.glob("snapshot-*.json")):
            out.append(json.loads(p.read_text()))
        return out

    def latest(self) -> dict | None:
        snaps = self._snapshots()
        return snaps[-1] if snaps else None

    def committed(self, stage: str) -> dict | None:
        for snap in reversed(self._snapshots()):
            if snap["stage"] == stage:
                return snap
        return None

    def commit(self, stage: str, meta: dict) -> dict:
        snaps = self._snapshots()
        sid = len(snaps) + 1
        snap = {
            "snapshot_id": sid,
            "parent_id": snaps[-1]["snapshot_id"] if snaps else None,
            "stage": stage,
            **meta,
        }
        tmp = self.snap_dir / f".snapshot-{sid:06d}.json.tmp"
        tmp.write_text(json.dumps(snap, indent=1))
        tmp.rename(self.snap_dir / f"snapshot-{sid:06d}.json")  # atomic commit
        return snap

    def stage_path(self, stage: str) -> str:
        return str(self.root / stage)

    # --- per-partition progress (north_rule) -------------------------------

    def _partition_records(self, stage: str) -> list[dict]:
        out = []
        for p in sorted(self.snap_dir.glob(f"part-{stage}-*.json")):
            out.append(json.loads(p.read_text()))
        return out

    def partitions_committed(self, stage: str, params: dict) -> set[str]:
        """Partition values (stringified) already committed for this stage
        under the SAME params fingerprint — stale-params records don't count."""
        done: set[str] = set()
        for rec in self._partition_records(stage):
            if rec.get("params", {}) == params:
                done.update(map(str, rec["values"]))
        return done

    def partition_commit(self, stage: str, values: list, meta: dict) -> dict:
        rec = {"stage": stage, "values": [str(v) for v in values], **meta}
        key = "_".join(str(v) for v in values)[:80] or "empty"
        tmp = self.snap_dir / f".part-{stage}-{key}.json.tmp"
        tmp.write_text(json.dumps(rec, indent=1))
        tmp.rename(self.snap_dir / f"part-{stage}-{key}.json")  # atomic
        return rec

    def _manifest(self, stage: str) -> list[dict]:
        base = self.root / stage
        files = []
        for p in sorted(base.rglob("*.parquet")):
            rel = p.relative_to(base)
            partition = str(rel.parent) if str(rel.parent) != "." else ""
            files.append({"file": str(rel), "partition": partition, "bytes": p.stat().st_size})
        return files


def _write_counted(df: DataFrame, path: str, partition_by: list[str]) -> int:
    """Overwrite ``path`` with ``df`` and return the rows written, counted by
    an Observation attached directly above the write: the count rides in
    the write's own result stage (where Spark applies each task's metric
    update exactly once), so no separate count job runs."""
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return obs.get["rows"]


def _durable(spark: SparkSession, df: DataFrame, path: str, partition_by: list[str]) -> DataFrame:
    """The written parquet read back with the schema the write produced —
    data columns, then partition columns — instead of inferring it from
    the footers (a schema-inference job per read). Partition columns keep
    their built type; the file source makes every field nullable."""
    data = [f for f in df.schema.fields if f.name not in partition_by]
    schema = T.StructType(data + [df.schema[c] for c in partition_by])
    return spark.read.schema(schema).parquet(path)


def _stage_meta(rows: int, wall: float, **extra) -> dict:
    return {
        "rows": rows,
        "wall_s": round(wall, 3),
        "rows_per_sec": round(rows / wall, 1) if wall > 0 else None,
        **extra,
    }


def run_stage(
    spark: SparkSession,
    log: SnapshotLog,
    stage: str,
    build: callable,
    inputs: list[str] | None = None,
    partition_by: list[str] | None = None,
    params: dict | None = None,
) -> DataFrame:
    """Execute (or resume) one checkpointed stage.

    ``build() -> DataFrame`` is only invoked when the stage has no
    committed snapshot WITH MATCHING ``params`` (the build's parameter
    fingerprint — a snapshot from a run with different parameters is stale
    and the stage re-executes rather than silently returning old data).
    Returns the stage's DataFrame read back from the committed parquet
    either way (downstream stages always consume the durable copy).

    A fresh stage is ONE write action: the committed ``rows`` is observed
    during the write and the durable copy is read with the written schema,
    so no job runs after the write finishes.
    """
    path = log.stage_path(stage)
    snap = log.committed(stage)
    if snap is not None and snap.get("params", {}) == (params or {}):
        return spark.read.parquet(path)
    t0 = time.time()
    df = build()
    partition_by = partition_by or []
    rows = _write_counted(df, path, partition_by)
    log.commit(
        stage,
        _stage_meta(
            rows,
            time.time() - t0,
            lineage=inputs or [],
            partition_by=partition_by,
            params=params or {},
            files=log._manifest(stage),
        ),
    )
    return _durable(spark, df, path, partition_by)


def run_stage_partitioned(
    spark: SparkSession,
    log: SnapshotLog,
    stage: str,
    build: callable,
    partition_col: str,
    partition_values: list | None = None,
    inputs: list[str] | None = None,
    params: dict | None = None,
    chunk_size: int = 4,
) -> DataFrame:
    """Execute (or resume) one stage with PER-PARTITION commit granularity
    (north_rule: "checkpoints per-partition progress").

    The stage output is written partition-group by partition-group, each
    group its own atomic write + partition-manifest commit
    (``_snapshots/part-<stage>-<id>.json``). A crash mid-stage loses only
    the in-flight group: the re-run skips every committed group and
    recomputes the rest, then commits the stage snapshot. Scale note: each
    group is one Spark job filtering the built DataFrame on
    ``partition_col`` — upstream stages should be partitioned/bucketed on
    the same column so the filter prunes at the scan instead of rescanning
    the full input per group (partition pruning; check PartitionFilters in
    explain).

    Each group's ``rows`` is observed during its write (see ``run_stage``);
    a fresh stage commits their sum. A stage that resumes earlier group
    commits counts what is on disk instead (one extra job, resume only).
    """
    path = log.stage_path(stage)
    snap = log.committed(stage)
    if snap is not None and snap.get("params", {}) == (params or {}):
        return spark.read.parquet(path)

    t0 = time.time()
    df = build()
    if partition_values is None:
        partition_values = [
            r[0] for r in df.select(partition_col).distinct().orderBy(partition_col).collect()
        ]
    done = log.partitions_committed(stage, params or {})
    missing = [v for v in partition_values if str(v) not in done]
    written = 0
    # dynamic overwrite: a group write replaces ONLY its own partition dirs
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for i in range(0, len(missing), chunk_size):
            group = missing[i : i + chunk_size]
            tg = time.time()
            rows = _write_counted(df.filter(F.col(partition_col).isin(group)), path, [partition_col])
            written += rows
            log.partition_commit(stage, group, _stage_meta(rows, time.time() - tg, params=params or {}))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    out = _durable(spark, df, path, [partition_col])
    resumed = sorted(set(map(str, partition_values)) - set(map(str, missing)))
    rows = out.count() if resumed else written
    log.commit(
        stage,
        _stage_meta(
            rows,
            time.time() - t0,
            lineage=inputs or [],
            partition_by=[partition_col],
            params=params or {},
            partitions=sorted(log.partitions_committed(stage, params or {})),
            resumed_partitions=resumed,
            files=log._manifest(stage),
        ),
    )
    return out


def run_pipeline(spark: SparkSession, root: str, n_pages: int, zoom: int = 12) -> dict:
    """The full tile-assignment pipeline as checkpointed stages; returns
    the snapshot summaries. Re-running with the same root resumes — only
    uncommitted stages execute, and the extraction stage resumes at
    PER-PARTITION granularity on ``lang``: because the pages stage writes
    ``partitionBy("lang")``, each missing group's build filters become
    PartitionFilters at the pages scan — a crash-resume reads ONLY the
    missing partitions' input, never a full rescan per group
    (tests/test_plans.py::TestPerPartitionResume)."""
    from .. import datagen
    from ..operators import extract, tiles

    log = SnapshotLog(root)
    p = {"n_pages": n_pages, "zoom": zoom}

    pages = run_stage(
        spark, log, "pages", lambda: datagen.webpages(spark, n_pages),
        inputs=[], partition_by=["lang"], params=p,
    )
    mentions = run_stage_partitioned(
        spark, log, "mentions", lambda: extract.extract_mentions(pages),
        partition_col="lang", inputs=["pages"], params=p,
        chunk_size=1,  # one commit per lang — the partition count is tiny
    )
    pts = run_stage(
        spark,
        log,
        "normalized",
        lambda: extract.normalize_points(mentions, fill_z_from_dem=False),
        inputs=["mentions"],
        partition_by=["lang"],
        params=p,
    )
    tiled = run_stage(
        spark,
        log,
        "tiled",
        lambda: tiles.with_tile(pts, zoom),
        inputs=["normalized"],
        params=p,
    )
    run_stage(
        spark,
        log,
        "tile_counts",
        lambda: tiled.groupBy("zoom", "cell_id").agg(F.count(F.lit(1)).alias("n")),
        inputs=["tiled"],
        params=p,
    )
    return {s["stage"]: s for s in log._snapshots()}
