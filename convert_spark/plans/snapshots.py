"""Iceberg-style snapshot/commit log — resumable pipeline checkpoints.

north_rule requirement: "checkpoints per-partition progress with lineage
and throughput metrics to resumable Iceberg commit snapshots". No Iceberg
runtime jars exist in this sandbox (SURVEY.md §7.0), so this is a minimal
from-scratch commit protocol with the same shape. A stage writes parquet
under ``<root>/<stage>/``; ``run_stage`` and ``run_stage_partitioned``
share one commit body, ``_run``, whose rules are:

* **Skip.** A stage whose last snapshot has the same ``params`` (the
  build's fingerprint) is read back with the schema the snapshot recorded:
  it returns exactly what a fresh call returns and starts no job.
* **Stale state.** Otherwise an attempt resumes the partition records of
  its own ``params``, or clears the stage directory and every partition
  record of the stage and starts empty.
* **Groups.** A plain stage is one group, written with static overwrite.
  A per-partition stage is groups of ``chunk_size`` values, each written
  with dynamic overwrite (only its own partition directories) and followed
  by a partition record (``_snapshots/part-<stage>-<key>.json``). The mode
  is an option of each write, never a session conf.
* **Rows.** Each group's rows are an Observation on its write (no count
  job); a per-partition stage commits the sum of its own records. A
  per-partition stage with no partition values writes no group and
  commits 0 rows over an empty stage directory.
* **Commit last.** The snapshot (``_snapshots/snapshot-N.json``: id,
  parent, rows, wall, rows/sec, lineage, params, built schema, file
  manifest) is written after the stage's data, so a crash leaves the stage
  uncommitted.
"""

from __future__ import annotations

import hashlib
import json
import re
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PLAIN_VALUE = re.compile(r"[A-Za-z0-9.]+")


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

    def _records(self, stage: str) -> list[tuple[Path, dict]]:
        """This stage's partition records, selected by their ``stage`` field."""
        recs = ((p, json.loads(p.read_text())) for p in sorted(self.snap_dir.glob("part-*.json")))
        return [(p, rec) for p, rec in recs if rec["stage"] == stage]

    def _partition_records(self, stage: str) -> list[dict]:
        return [rec for _, rec in self._records(stage)]

    def partition_commit(self, stage: str, values: list, meta: dict) -> dict:
        """The file key is the values joined by ``_`` when each is plain
        alphanumeric and the join is short, else a digest of the values. A
        key holds no ``-``, so no two (stage, values) pairs share a file."""
        rec = {"stage": stage, "values": [str(v) for v in values], **meta}
        key = "_".join(rec["values"])
        if len(key) > 80 or not all(map(_PLAIN_VALUE.fullmatch, rec["values"])):
            key = "~" + hashlib.sha1(json.dumps(rec["values"]).encode()).hexdigest()
        tmp = self.snap_dir / f".part-{stage}-{key}.json.tmp"
        tmp.write_text(json.dumps(rec, indent=1))
        tmp.rename(self.snap_dir / f"part-{stage}-{key}.json")  # atomic
        return rec

    def clear(self, stage: str) -> None:
        """Empty the stage: its directory and every partition record."""
        shutil.rmtree(self.root / stage, ignore_errors=True)
        for p, _ in self._records(stage):
            p.unlink()

    def _manifest(self, stage: str) -> list[dict]:
        base = self.root / stage
        files = []
        for p in sorted(base.rglob("*.parquet")):
            rel = p.relative_to(base)
            partition = str(rel.parent) if str(rel.parent) != "." else ""
            files.append({"file": str(rel), "partition": partition, "bytes": p.stat().st_size})
        return files


def _write_counted(df: DataFrame, path: str, partition_by: list[str], mode: str) -> int:
    """Overwrite ``path`` with ``df`` (``mode``: the write's partition
    overwrite mode) and return the rows written, counted by an Observation
    attached directly above the write: the count rides in the write's own
    result stage (where Spark applies each task's metric update exactly
    once), so no separate count job runs."""
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    writer.option("partitionOverwriteMode", mode).partitionBy(*partition_by).parquet(path)
    return obs.get["rows"]


def _durable(spark: SparkSession, schema: T.StructType, path: str, partition_by: list[str]) -> DataFrame:
    """The written parquet read back with the built ``schema`` — data
    columns, then partition columns — instead of inferring it from the
    footers (a schema-inference job per read). Partition columns keep
    their built type; the file source makes every field nullable."""
    data = [f for f in schema.fields if f.name not in partition_by]
    return spark.read.schema(T.StructType(data + [schema[c] for c in partition_by])).parquet(path)


def _stage_meta(rows: int, wall: float, **extra) -> dict:
    return {
        "rows": rows,
        "wall_s": round(wall, 3),
        "rows_per_sec": round(rows / wall, 1) if wall > 0 else None,
        **extra,
    }


def _run(spark, log, stage, build, inputs, params, partition_by, partition_values=None, chunk_size=None) -> DataFrame:
    """The one commit body of both stage runners (rules: module docstring).
    ``chunk_size=None`` is a plain stage; otherwise the groups are
    ``chunk_size`` values of ``partition_by[0]``."""
    path, params = log.stage_path(stage), params or {}
    snap = log.committed(stage)
    if snap is not None and snap.get("params", {}) == params and "schema" in snap:
        return _durable(spark, T.StructType.fromJson(snap["schema"]), path, snap["partition_by"])
    t0 = time.time()
    records = log._partition_records(stage)
    if chunk_size is None or not records or any(r["params"] != params for r in records):
        log.clear(stage)
        records = []
    df = build()
    groups, mode, extra = [None], "static", {}
    if chunk_size is not None:
        col = partition_by[0]
        if partition_values is None:
            partition_values = [r[0] for r in df.select(col).distinct().orderBy(col).collect()]
        done = {v for r in records for v in r["values"]}
        missing = [v for v in partition_values if str(v) not in done]
        groups, mode = [missing[i : i + chunk_size] for i in range(0, len(missing), chunk_size)], "dynamic"
        extra = {
            "partitions": sorted(done | set(map(str, missing))),
            "resumed_partitions": sorted(done & set(map(str, partition_values))),
        }
    rows = sum(r["rows"] for r in records)
    for group in groups:
        tg = time.time()
        part = df if group is None else df.filter(F.col(col).isin(group))
        written = _write_counted(part, path, partition_by, mode)
        rows += written
        if group is not None:
            log.partition_commit(stage, group, _stage_meta(written, time.time() - tg, params=params))
    Path(path).mkdir(parents=True, exist_ok=True)  # an empty partition set writes no group
    meta = dict(lineage=inputs or [], partition_by=partition_by, params=params, schema=df.schema.jsonValue())
    log.commit(stage, _stage_meta(rows, time.time() - t0, **meta, **extra, files=log._manifest(stage)))
    return _durable(spark, df.schema, path, partition_by)


def run_stage(
    spark: SparkSession,
    log: SnapshotLog,
    stage: str,
    build: callable,
    inputs: list[str] | None = None,
    partition_by: list[str] | None = None,
    params: dict | None = None,
) -> DataFrame:
    """Execute (or resume) one checkpointed stage: ``build()`` written once,
    ``partitionBy(partition_by)`` when given. ``build`` runs only when no
    snapshot with matching ``params`` is committed; either way the stage's
    durable copy is returned (downstream stages always consume it)."""
    return _run(spark, log, stage, build, inputs, params, partition_by or [])


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
    (north_rule: "checkpoints per-partition progress"): ``build()`` is
    written ``chunk_size`` values of ``partition_col`` at a time
    (``partition_values``, default every distinct value), so a crash loses
    only the in-flight group. Each group is one Spark job filtering the
    built DataFrame on ``partition_col``: partition or bucket the upstream
    stage on the same column so the filter prunes at the scan instead of
    rescanning the input per group (PartitionFilters in explain). When
    ``partition_col`` is computed (``cell_bucket`` from ``with_tile``'s
    ``cell_id``), Catalyst pastes its expression into the group filter:
    the costly columns it derives from leave their operator through
    ``session.fence``, so the filter reads the fenced value instead of
    re-deriving it per row."""
    return _run(spark, log, stage, build, inputs, params, [partition_col], partition_values, chunk_size)


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
