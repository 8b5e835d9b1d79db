"""Streaming ingestion of new page partitions (Structured Streaming).

The reference is single-shot batch (SURVEY.md §2.9); this is the engine's
optional continuous path: `readStream` over a landing directory of page
parquet, the SAME stage functions as batch (extract -> normalize -> tile),
and either

* ``stream_tile_counts``: incremental windowed aggregation with a
  watermark (late-page tolerance), or
* ``foreach_batch_pipeline``: exactly-once-style micro-batch reuse of the
  batch stages with idempotent parquet sinks per epoch, or
* ``foreach_batch_incremental``: each micro-batch folded into a versioned
  per-tile dataset state (``tiles.merge_tile_datasets``), committed per
  epoch through a ``_LATEST`` pointer and a snapshot record.

Local smoke: memory sink + ``processAllAvailable()`` drives a directory of
files to completion synchronously (tests/test_platform.py).
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..datagen import PAGES_SCHEMA
from ..operators import extract, tiles

_PAGES_DDL = PAGES_SCHEMA


def read_page_stream(spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(_PAGES_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )


def stream_tile_counts(pages: DataFrame, zoom: int = 10, watermark: str = "1 hour") -> DataFrame:
    """Streaming tile counts over event-time windows with late-data
    tolerance: same extraction + tile expressions as batch."""
    mentions = extract.extract_mentions(pages)
    tiled = tiles.with_tile(mentions, zoom)
    return (
        tiled.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 day").alias("win"), "zoom", "cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("day"), "zoom", "cell_id", "n")
    )


def stateful_session_counts(events: DataFrame, gap_s: int = 1800):
    """Custom stateful streaming operator (applyInPandasWithState): counts
    events per user session, where a session closes after ``gap_s`` seconds
    of silence. State per user = (session_start, last_seen, n_events);
    closed sessions are emitted, the open one is kept in state.

    events must carry (user_id long, ts timestamp). This is the streaming
    twin of queries.q_sessionize (same gap semantics)."""
    import pandas as pd

    def update(key, pdfs, state):
        user_id = key[0]
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        rows = []
        # concatenate ALL chunks before sorting: applyInPandasWithState
        # delivers a group as multiple Arrow chunks with no cross-chunk
        # ordering guarantee — per-chunk sorting would merge sessions
        all_secs = sorted(s for pdf in pdfs for s in pdf["sec"].tolist())
        for sec in all_secs:
            if last is not None and sec - last > gap_s:
                rows.append((user_id, int(start), int(n)))
                start, n = sec, 0
            if start is None:
                start = sec
            last = sec
            n += 1
        state.update((start, last, n))
        if rows:
            yield pd.DataFrame(rows, columns=["user_id", "session_start", "n_events"])

    from pyspark.sql import functions as FF

    ev = events.withColumn("sec", FF.unix_timestamp("ts").cast("long")).select("user_id", "sec")
    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, session_start long, n_events long",
        stateStructType="session_start long, last_seen long, n_events long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def foreach_batch_pipeline(pages: DataFrame, out_dir: str, zoom: int = 10):
    """Micro-batch reuse of the batch stages; each epoch appends its tile
    counts partitioned by epoch id (idempotent re-write per epoch)."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        mentions = extract.extract_mentions(batch_df)
        tiled = tiles.with_tile(mentions, zoom)
        counts = tiled.groupBy("zoom", "cell_id").agg(F.count(F.lit(1)).alias("n"))
        (
            counts.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/epoch={epoch_id}")
        )

    return pages.writeStream.foreachBatch(handle)


def _observed_rows(obs: Observation) -> int | None:
    """The ``rows`` an Observation counted, or None when its node is not in
    the executed plan: adaptive execution replaces a subtree whose shuffle
    wrote no rows by an empty relation, and an Observation below that
    shuffle is dropped with it (its metrics come back as an empty row)."""
    try:
        return obs.get["rows"]
    except Py4JJavaError as e:  # the JVM asserts the row has a schema
        if e.java_exception.getClass().getName() != "java.lang.AssertionError":
            raise
        return None


def foreach_batch_incremental(pages: DataFrame, state_dir: str, zoom: int = 10):
    """Streaming maintenance of the per-tile dataset table (the daily-crawl
    shape, continuously): each micro-batch of new pages runs the SAME batch
    stages (extract -> normalize -> tile) and folds into the previous
    state via ``tiles.merge_tile_datasets`` (q_tile_incremental pins
    merge == full recompute). History's POINTS are never re-read, but the
    fold is not O(|touched tiles|): every epoch re-finalizes (DEM z, S2
    covering) and rewrites EVERY state tile, touched or not, so an epoch
    costs O(|state tiles| + |batch|) and its write volume grows with the
    state, not with the batch.

    Epoch commit protocol (resumable, idempotent under foreachBatch's
    replay-last-epoch semantics): state for epoch E is written to
    ``<state_dir>/vE`` FIRST, then the ``_LATEST`` pointer file is replaced
    by renaming a temp file (commit-last, atomic: a torn pointer write
    leaves the old pointer). A crash between the two leaves it at E-1, so
    the replayed epoch re-reads the same previous state, overwrites vE and
    re-commits — same result. A crash AFTER the pointer write but before
    Structured Streaming commits the epoch's offsets replays epoch E with
    the pointer already at E — so the base state is the largest version
    STRICTLY BELOW the replayed epoch, never the pointer value itself
    (ADVICE r7: folding vE into itself would double-count the batch and
    overwrite the very directory being read). Prior versions stay until
    vacuumed, which also gives snapshot reads of any epoch.

    Each epoch is one write action: ``rows_in`` and ``n_tiles`` are
    Observations on that write, and the previous version is read with the
    state schema from analysis, so no count or schema-inference job runs.
    ``n_tiles`` is observed directly above the write (its result stage,
    where each task's update applies once). ``rows_in`` is observed on the
    input batch, BELOW the epoch's shuffle: a retried map stage re-applies
    its update, so it can over-count. It is a log metric, never an output.
    When adaptive execution prunes that observation (a batch that yields
    no points) the handler counts the batch instead, one job after the
    write.

    After the pointer, each epoch commits one snapshot record through
    plans.snapshots.SnapshotLog — input rows, wall seconds, rows/sec, tile
    count, the input-version lineage and the per-file manifest of what the
    epoch wrote (the north_rule "per-partition lineage + metrics" surface,
    continuous edition)."""
    import time
    from pathlib import Path

    from ..plans.snapshots import SnapshotLog

    def _latest_version() -> str | None:
        ptr = Path(state_dir) / "_LATEST"
        return ptr.read_text().strip() if ptr.exists() else None

    def _base_version(epoch_id: int) -> int | None:
        """Largest committed state version STRICTLY below this epoch —
        the fold base that stays correct when the epoch is a replay of a
        crash that already advanced the pointer (see docstring)."""
        ptr = _latest_version()
        if ptr is not None and int(ptr) < epoch_id:
            return int(ptr)
        versions = sorted(
            int(p.name[1:])
            for p in Path(state_dir).glob("v*")
            if p.name[1:].isdigit()
        )
        below = [v for v in versions if v < epoch_id]
        return below[-1] if below else None

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        t0 = time.time()
        seen, written = Observation(), Observation()
        batch = batch_df.observe(seen, F.count(F.lit(1)).alias("rows"))
        mentions = extract.extract_mentions(batch)
        tiled = tiles.with_tile(extract.normalize_points(mentions), zoom)
        fresh = tiles.tile_datasets(tiled)
        prev_v = _base_version(int(epoch_id))
        if prev_v is None:
            out = fresh
        else:
            # the state schema comes from analysis of the fresh plan: no
            # footer-inference job on the previous version
            prev = batch_df.sparkSession.read.schema(fresh.schema).parquet(f"{state_dir}/v{prev_v}")
            out = tiles.merge_tile_datasets(prev, tiled)
        out.observe(written, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(
            f"{state_dir}/v{epoch_id}"
        )
        tmp = Path(state_dir) / "._LATEST.tmp"
        tmp.write_text(str(epoch_id))
        tmp.replace(Path(state_dir) / "_LATEST")
        wall = time.time() - t0
        files = [
            {"path": p.name, "bytes": p.stat().st_size}
            for p in sorted(Path(f"{state_dir}/v{epoch_id}").glob("part-*"))
        ]
        n_in = _observed_rows(seen)
        if n_in is None:
            n_in = batch_df.count()
        SnapshotLog(f"{state_dir}/_log").commit(
            f"epoch-{epoch_id}",
            {
                "rows_in": n_in,
                "n_tiles": written.get["rows"],
                "wall_s": round(wall, 3),
                "rows_per_s": round(n_in / wall, 1) if wall > 0 else None,
                "lineage": ["pages-stream"] + ([f"v{prev_v}"] if prev_v is not None else []),
                "manifest": files,
            },
        )

    writer = pages.writeStream.option("checkpointLocation", f"{state_dir}/_chk").foreachBatch(handle)
    # test hook: lets the replay-idempotence tests invoke the epoch
    # handler directly with a controlled (batch, epoch_id) pair
    writer._convert_spark_handle = handle
    return writer
