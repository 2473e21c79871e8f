"""Structured Streaming ingest: continuous extraction over arriving files.

The reference is strictly batch, and so is the driver contract
(checkpoint-resume via the lineage anti-join — SURVEY.md §2.6). This
module is the CONTINUOUS-ingest face of the same engine: transcript
files land in a directory (the usual shape of an event-log/Iceberg
ingest at 10^12-turn scale), Structured Streaming's file source tracks
what has been processed in its checkpoint, and every micro-batch runs
the IDENTICAL fused extraction stage (ocr_spark.pipeline.extract_stage)
and publishes one atomic snapshot (ocr_spark.table.commit_append) via
foreachBatch. Restarting the stream re-processes nothing: file-source
checkpointing tracks processed files, and because foreachBatch itself is
only at-least-once, the committer records each micro-batch id in the
snapshot metadata and skips replayed batches — idempotent foreachBatch,
i.e. true exactly-once per file.

Also provides the standard event-time surface: watermarked tumbling-
window turn counts for monitoring (late data beyond the watermark is
dropped, the Structured Streaming contract).
"""

from __future__ import annotations

import os
import sys
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.pipeline import DEFAULT_NUM_PARTS, DEFAULT_TURN_BUCKET, extract_stage
from ocr_spark.worker import python_stage

#: The driver contract's transcript schema (BASELINE.json input_hint);
#: streams require an explicit schema (no inference at runtime).
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def read_transcript_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def committed_stream_batch(table_root: str, stream_id: str | None = None) -> int | None:
    """Largest micro-batch id recorded in the table's snapshot chain FOR
    THIS STREAM (walks parents so interleaved non-stream commits don't
    hide it). Batch ids are monotonic only within one checkpoint lineage,
    so snapshots from a different stream_id never arm the skip guard —
    a fresh stream writing to an existing table starts at batch 0 and
    must not have its first batches dropped. ``stream_id=None`` matches
    any stream (legacy snapshots without the key).

    When the retained chain carries no marker — its end, or an ancestor
    expired by table.expire_snapshots — the watermark SIDECAR answers:
    expiry folds every expired snapshot's (stream_id, batch_id) into it
    before deleting the manifest, so maintenance (compact + expire) can
    never silently re-arm replay of an already-committed batch."""
    from ocr_spark import table as tbl

    def floor_from_sidecar() -> int | None:
        wm = tbl.load_stream_watermarks(table_root)
        if stream_id is not None:
            return int(wm[stream_id]) if stream_id in wm else None
        return max((int(v) for v in wm.values()), default=None)

    snap = tbl.read_snapshot(table_root)
    while snap is not None:
        b = snap.get("stream_batch_id")
        if b is not None and (
            stream_id is None or snap.get("stream_id") == stream_id
        ):
            return int(b)
        parent = snap.get("parent")
        if parent is None:
            return floor_from_sidecar()
        try:
            snap = tbl.read_snapshot(table_root, parent)
        except FileNotFoundError:
            # ancestor expired: the sidecar carries its markers
            return floor_from_sidecar()
    return floor_from_sidecar()


def _skip_replayed(table_root: str, stream_id: str, batch_id: int) -> bool:
    """The shared idempotence guard of every foreachBatch sink: True if
    this (stream, batch) already committed — loud on stderr so a
    mis-keyed identity (which would drop REAL batches) is visible in
    the stream logs, never silent."""
    last = committed_stream_batch(table_root, stream_id)
    if last is not None and int(batch_id) <= last:
        print(
            f"ocr_spark.streaming: skipping replayed batch {batch_id} "
            f"(stream {stream_id!r} already committed through {last})",
            file=sys.stderr,
        )
        return True
    return False


def _start_foreach_batch(stream, process_batch, checkpoint_dir, available_now):
    """Shared writer scaffold for the foreachBatch sinks."""
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def make_batch_committer(
    table_root: str,
    num_parts: int = DEFAULT_NUM_PARTS,
    turn_bucket: int = DEFAULT_TURN_BUCKET,
    stream_id: str = "default",
):
    """The foreachBatch sink: extract + atomic snapshot commit, IDEMPOTENT
    per micro-batch. foreachBatch is at-least-once — a crash after the
    snapshot commit but before the stream checkpoint's offset commit
    replays the micro-batch on restart — so the commit records
    (stream_id, batch_id) in the snapshot metadata and a replayed batch
    (same stream, id ≤ the last committed; batch ids are monotonic per
    checkpoint) is skipped, upgrading the sink to exactly-once.
    ``stream_id`` identifies the checkpoint lineage (stream_extract passes
    the nonce from ``stream_identity``, which survives only as long as the
    checkpoint itself): batches from a DIFFERENT stream — including a
    wiped-and-recreated checkpoint at the same path — restart at 0 and
    are never skipped."""
    from ocr_spark import table as tbl

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _skip_replayed(table_root, stream_id, batch_id):
            return
        out = extract_stage(batch_df, num_parts=num_parts, turn_bucket=turn_bucket)
        tbl.commit_append(
            batch_df.sparkSession,
            table_root,
            out,
            part_col="part_id",
            extra_meta={"stream_batch_id": int(batch_id), "stream_id": stream_id},
        )

    return process_batch


def stream_identity(checkpoint_dir: str, spark: SparkSession | None = None) -> str:
    """Stream lineage id: a uuid nonce persisted INSIDE the checkpoint
    directory, created on first use. Identity must follow the
    checkpoint's LIFETIME, not its path: batch ids restart at 0 when a
    checkpoint is wiped and recreated at the same path (the standard
    recovery action for checkpoint corruption), so keying the idempotence
    guard on the path would make every post-recovery batch look like a
    replay and silently drop it — data loss with no error. A fresh nonce
    turns the recreated checkpoint into a new lineage that is never
    skipped.

    The nonce lives in the SAME filesystem as the checkpoint: a local
    path (or file:) uses the OS directly; any other scheme (hdfs://,
    s3a://, …) goes through the Hadoop FileSystem API via ``spark`` —
    a driver-local marker for a remote checkpoint would survive the
    remote wipe and recreate exactly the stale-identity data loss this
    nonce exists to prevent."""
    from urllib.parse import urlparse

    parsed = urlparse(checkpoint_dir)
    if parsed.scheme in ("", "file"):
        local_dir = parsed.path if parsed.scheme == "file" else checkpoint_dir
        os.makedirs(local_dir, exist_ok=True)
        marker = os.path.join(local_dir, "ocr_spark_stream_id")
        try:
            # atomic create-if-absent: racing first-uses agree on one nonce
            fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                f.write(uuid.uuid4().hex)
        except FileExistsError:
            pass
        with open(marker) as f:
            return f.read().strip()
    if spark is None:
        raise ValueError(
            f"stream_identity: non-local checkpoint {checkpoint_dir!r} needs "
            "the SparkSession for Hadoop filesystem access"
        )
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(checkpoint_dir + "/ocr_spark_stream_id")
    fs = path.getFileSystem(hconf)
    if not fs.exists(path):
        try:
            out = fs.create(path, False)  # no-overwrite: first writer wins
            out.write(bytearray(uuid.uuid4().hex.encode()))
            out.close()
        except Exception:
            pass  # a racer created it; read theirs below
    stream = fs.open(path)
    try:
        nonce = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return nonce.strip()


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    table_root: str,
    checkpoint_dir: str,
    num_parts: int = DEFAULT_NUM_PARTS,
    turn_bucket: int = DEFAULT_TURN_BUCKET,
    available_now: bool = True,
):
    """Start the continuous extraction query; returns the StreamingQuery.

    ``available_now=True`` drains everything currently in the directory
    and stops (the batch-catch-up trigger); False runs indefinitely.
    Exactly-once: file-source checkpointing (each file processed in one
    micro-batch) + the idempotent batch committer (replays skipped via the
    batch id recorded in snapshot metadata).
    """
    stream = read_transcript_stream(spark, input_dir)
    return _start_foreach_batch(
        stream,
        make_batch_committer(
            table_root,
            num_parts,
            turn_bucket,
            stream_id=stream_identity(checkpoint_dir, spark),
        ),
        checkpoint_dir,
        available_now,
    )


def make_upsert_committer(
    table_root: str,
    stream_id: str = "default",
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuous CDC apply — the foreachBatch MERGE sink: each
    micro-batch of (id, op, text, seq) change rows merges into the
    table's current snapshot latest-change-wins
    (operators.dedup.snapshot_upsert) and publishes the merged state as
    an OVERWRITE snapshot, so the table always reads as the fully
    applied release. Idempotent per micro-batch via the same
    (stream_id, batch_id) guard as the append sink — a replayed batch
    (crash between snapshot commit and checkpoint offset commit) is
    skipped, so a merge is never applied twice (critical here: unlike
    appends, re-merging a delete after a later upsert would corrupt).

    Scale note: this is merge-on-write — read + rewrite per batch. At
    100 TB the rewrite is confined to the id-buckets the batch touches
    (the manifest's part pruning); the emulated table layer keeps the
    whole-table-rewrite shape for clarity."""
    from ocr_spark import table as tbl
    from ocr_spark.operators.dedup import snapshot_upsert

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _skip_replayed(table_root, stream_id, batch_id):
            return
        spark = batch_df.sparkSession
        based_on = tbl.current_snapshot_id(table_root)
        try:
            base = tbl.read_table(spark, table_root).select(
                id_col, text_col
            )
        except FileNotFoundError:
            base = spark.createDataFrame(
                [], f"{id_col} long, {text_col} string"
            )
        merged = snapshot_upsert(
            base, batch_df, text_col=text_col, id_col=id_col
        ).drop("status")
        tbl.commit_append(
            spark,
            table_root,
            merged,
            part_col=None,
            overwrite=True,
            extra_meta={
                "stream_batch_id": int(batch_id),
                "stream_id": stream_id,
            },
            # merge is read-then-rewrite: refuse to publish over a
            # commit that landed after the base snapshot was read
            expected_parent=based_on,
        )

    return process_batch


def stream_upsert(
    spark: SparkSession,
    input_dir: str,
    table_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start the continuous CDC-apply query over a directory of change
    feeds (parquet files of (doc_id, op, text, seq) rows); returns the
    StreamingQuery. Same exactly-once construction as stream_extract:
    file-source checkpointing + the idempotent merge committer."""
    schema = "doc_id long, op string, text string, seq long"
    stream = spark.readStream.schema(schema).parquet(input_dir)
    return _start_foreach_batch(
        stream,
        make_upsert_committer(
            table_root,
            stream_id=stream_identity(checkpoint_dir, spark),
        ),
        checkpoint_dir,
        available_now,
    )


def conversation_sessions(
    stream: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time session windows per conversation: a session closes after
    ``gap`` of turn silence (built-in session_window — the declarative
    Spark-first form; no custom state code)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .select(
            "conv_id",
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "n_turns",
            "first_turn",
            "last_turn",
        )
    )


_PROGRESS_OUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turns_total", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
        T.StructField("batch_turns", T.LongType()),
    ]
)

_PROGRESS_STATE = T.StructType(
    [
        T.StructField("turns_total", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
    ]
)


@python_stage
def _progress_fn(key, pdfs, state):
    """Custom stateful kernel: running per-conversation turn totals that
    survive across micro-batches AND stream restarts (state store)."""
    import pandas as pd

    total, max_idx = state.get if state.exists else (0, -1)
    batch_rows = 0
    for pdf in pdfs:
        batch_rows += len(pdf)
        if len(pdf):
            max_idx = max(max_idx, int(pdf["turn_idx"].max()))
    total += batch_rows
    state.update((total, max_idx))
    yield pd.DataFrame(
        {
            "conv_id": [key[0]],
            "turns_total": [total],
            "max_turn_idx": [max_idx],
            "batch_turns": [batch_rows],
        }
    )


def conversation_progress(stream: DataFrame):
    """The custom-stateful-operator face (applyInPandasWithState): emits a
    running (conv_id, turns_total, max_turn_idx) row per conversation per
    micro-batch. Used where the built-in aggregates can't express the
    semantics; state is Arrow-batched pandas, never per-row Python."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.select("conv_id", "turn_idx")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _progress_fn,
            outputStructType=_PROGRESS_OUT,
            stateStructType=_PROGRESS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def windowed_turn_counts(
    stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window monitoring aggregate:
    (window, tool, n_turns). Late events beyond the watermark are dropped;
    state is bounded by the watermark horizon."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "tool")
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "tool",
            "n_turns",
        )
    )


def sliding_turn_rates(
    stream: DataFrame,
    window: str = "2 minutes",
    slide: str = "30 seconds",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked sliding (hopping) window: each event lands in
    window/slide overlapping windows, giving a smoothed per-tool turn
    rate. State is bounded by watermark + window length; the overlap
    factor multiplies state size, which is why slide defaults to 1/4 of
    the window, not per-second."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "tool")
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "tool",
            "n_turns",
        )
    )


def stream_dedup_exact(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: turns whose text digest already appeared
    within the watermark horizon are dropped. dropDuplicatesWithinWatermark
    keeps only digests younger than the watermark in the state store —
    BOUNDED state, unlike a plain dropDuplicates whose state grows with
    the whole stream history. Only the 32-hex digest (plus event time) is
    stored per distinct text, never the text itself."""
    return (
        stream.withWatermark("ts", watermark)
        .withColumn("fp", F.md5(F.col("text")))
        .dropDuplicatesWithinWatermark(["fp"])
    )
