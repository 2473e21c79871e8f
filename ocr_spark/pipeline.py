"""The distributed extraction pipeline.

Dataflow (SURVEY.md §3.4):

    read_transcripts: parquet → optional turn-range filter (row-group pruning)
    extract_stage, the one place the plan is built:
      → part_id = pmod(xxhash64(conv_id, floor(turn_idx/BUCKET)), P)
      → optional resume anti-join / only_parts filter (skip logical parts)
      → repartitionById onto one task per core, contiguous part blocks
                                            (no second hash: task t runs parts
                                             [t·P/T, (t+1)·P/T); the turn
                                             bucket splits long conversations
                                             across parts)
      → ONE fused mapInArrow stage: route(html|grid|json|text) → extract
        → clean → serialize, emitting per-logical-part LINEAGE rows in-band
    run_pipeline / run_pipeline_snapshots: find committed parts, then write
      parquet partitioned by rec ∈ {data, lineage} / commit one snapshot

Design notes for 100-TB scale:

- part_id is DATA-DERIVED (hash of conv_id + turn bucket), not the physical
  partition index, so checkpoint-resume units are stable across cluster
  sizes and retries.
- The extraction kernels cross the JVM↔Python boundary exactly once, on
  Arrow record batches; there is no per-row Python UDF anywhere.
- Lineage rows ride the same output schema (rec='lineage', payload JSON in
  extracted_text) so data + lineage are produced in a single pass with no
  second job, no driver collection, and an atomic-enough commit (same
  write).
- Ordering is logical, never physical: the equality check sorts by
  (conv_id, turn_idx); nothing downstream depends on task order.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ocr_spark import table as tbl
from ocr_spark.kernels.align import align_pages
from ocr_spark.kernels.extract import (
    TOOL_FLAKY,
    TOOL_GRID,
    TOOL_HTML,
    TOOL_JSON,
    extract_turn,
)
from ocr_spark.operators.relational import anti_join_unfinished
from ocr_spark.worker import python_stage

#: Default number of logical resume parts: purely the resume granularity
#: (a finished part is never redone). At 10^12 turns this would be sized to
#: ~1-4 GB of input per part (e.g. 2^17 parts). It does not set the task
#: count: extract_stage packs contiguous blocks of parts onto one task per
#: core.
DEFAULT_NUM_PARTS = 256
#: Turns per salt bucket: conversations longer than this are split across
#: logical parts, defusing long-conversation skew.
DEFAULT_TURN_BUCKET = 64

LINEAGE_TOOL = "__lineage__"

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("rec", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("tool", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("n_rows", T.IntegerType()),
        T.StructField("n_cols", T.IntegerType()),
        T.StructField("status", T.StringType()),
    ]
)

_ARROW_SCHEMA = pa.schema(
    [
        ("rec", pa.string()),
        ("part_id", pa.int32()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("tool", pa.string()),
        ("extracted_text", pa.string()),
        ("n_rows", pa.int32()),
        ("n_cols", pa.int32()),
        ("status", pa.string()),
    ]
)

LINEAGE_JSON_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType()),
        T.StructField("conv_min", T.StringType()),
        T.StructField("conv_max", T.StringType()),
        T.StructField("turn_min", T.IntegerType()),
        T.StructField("turn_max", T.IntegerType()),
        T.StructField("n_turns", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("error_count", T.LongType()),
        T.StructField("retry_count", T.LongType()),
        T.StructField("status", T.StringType()),
    ]
)

#: Log2 buckets of the summary's per-part ``duration_ms`` histogram.
PART_MS_BUCKETS = 24


def summary_metrics() -> list[Column]:
    """The job summary, as aggregates over one extraction output (data and
    lineage rows): attach them with ``DataFrame.observe`` to the write, and
    they arrive with it, with no job of their own and no re-read.

    ``parts``/``rows``/``errors`` count this output's lineage rows, data
    rows and error turns; ``min_ms``/``max_ms``/``p50_ms`` summarize the
    parts' ``duration_ms``; ``hist`` counts parts in ``PART_MS_BUCKETS``
    fixed log2 buckets: bucket 0 holds 0 ms, bucket i holds
    [2^(i-1), 2^i) ms, and the last also holds everything above.
    """
    lineage = F.col("rec") == "lineage"
    ms = F.when(
        lineage, F.from_json("extracted_text", LINEAGE_JSON_SCHEMA)["duration_ms"]
    )
    # bit length of ms = its log2 bucket; bin(0) is "0", so 0 ms is special
    bucket = F.when(ms <= 0, 0).when(
        ms > 0, F.least(F.length(F.bin(ms)), F.lit(PART_MS_BUCKETS - 1))
    )
    # one aggregate, not one count_if per bucket: collect the parts' buckets
    # (data rows' bucket is null, and collect_list skips nulls), then fold
    # them into the fixed-size histogram
    hist = F.aggregate(
        F.collect_list(bucket),
        F.array_repeat(F.lit(0).cast("long"), PART_MS_BUCKETS),
        lambda acc, b: F.transform(acc, lambda n, i: F.when(i == b, n + 1).otherwise(n)),
    )
    return [
        F.count_if(lineage).alias("parts"),
        F.count_if(F.col("rec") == "data").alias("rows"),
        F.count_if((F.col("rec") == "data") & (F.col("status") == "error")).alias(
            "errors"
        ),
        F.min(ms).alias("min_ms"),
        F.max(ms).alias("max_ms"),
        F.percentile_approx(ms, F.lit(0.5)).alias("p50_ms"),
        hist.alias("hist"),
    ]


def _esc_nul(s: pd.Series) -> pd.Series:
    """NUL-free injective encoding: \\x01 → \\x01\\x01, \\x00 → \\x01\\x02.

    pandas' C string hasher truncates at embedded NUL bytes (the
    factorization path treats values as C strings), which both collides
    NUL-prefix pairs and makes the wrapping-sum checksum order-dependent.
    After this escape no field contains \\x00, and \\x01 is always followed
    by \\x01 or \\x02 — so the \\x01\\x03 field separator below can never
    appear inside an escaped field (injective join)."""
    return s.str.replace("\x01", "\x01\x01", regex=False).str.replace(
        "\x00", "\x01\x02", regex=False
    )


def turn_checksums(
    conv_id: pd.Series, turn_idx: pd.Series, text: pd.Series
) -> np.ndarray:
    """Vectorized order-insensitive per-turn digest (uint64); the part
    checksum is the wrapping sum. pandas' string hash is process- and
    partition-independent (fixed hash key), so resume runs reproduce it.
    Fields are NUL-escaped first: the hasher is only byte-exact on
    NUL-free strings (see _esc_nul)."""
    joined = (
        _esc_nul(conv_id.astype("string"))
        + "\x01\x03"
        + turn_idx.astype("int64").astype("string")
        + "\x01\x03"
        + _esc_nul(text.astype("string"))
    )
    return pd.util.hash_pandas_object(joined, index=False).to_numpy(np.uint64)


def with_part_id(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
    turn_bucket: int = DEFAULT_TURN_BUCKET,
) -> DataFrame:
    """Salted logical partition id: hash(conv_id, turn bucket) % P."""
    return df.withColumn(
        "part_id",
        F.pmod(
            F.xxhash64("conv_id", F.floor(F.col("turn_idx") / F.lit(turn_bucket))),
            F.lit(num_parts),
        ).cast("int"),
    )


def _extract_batch_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """One Arrow batch as a pandas frame → extraction columns, vectorized.

    Pass-through tools (plain text — the majority class in a transcript
    corpus) are handled with pandas string ops on the whole column; only
    the payload-parsing tools (html/grid/json) call the per-document
    kernels, over just their row subsets. Each kernel call's wall time is
    kept per row (``_kernel_s``) so lineage can charge it to its own part.
    """
    n = len(pdf)
    text = pdf["text"].astype("object")
    tool = pdf["tool"].to_numpy(dtype=object)

    ext = np.empty(n, dtype=object)
    n_rows = np.zeros(n, dtype=np.int32)
    n_cols = np.zeros(n, dtype=np.int32)
    status = np.empty(n, dtype=object)
    retries = np.zeros(n, dtype=np.int64)
    kernel_s = np.zeros(n, dtype=np.float64)

    parse_mask = np.isin(tool, (TOOL_HTML, TOOL_GRID, TOOL_JSON, TOOL_FLAKY))

    # pass-through: identity text, vectorized (extract_turn semantics)
    pt = ~parse_mask
    if pt.any():
        vals = text.to_numpy(dtype=object)[pt]
        vals = np.where([v is None for v in vals], "", vals)
        ext[pt] = vals
        status[pt] = np.where([bool(v) for v in vals], "ok", "empty")

    # payload-parsing tools: per-document kernels on their subsets
    for idx in np.flatnonzero(parse_mask):
        t = time.perf_counter()
        rec = extract_turn(text.iloc[idx], tool[idx])
        kernel_s[idx] = time.perf_counter() - t
        ext[idx] = rec["extracted_text"]
        n_rows[idx] = rec["n_rows"]
        n_cols[idx] = rec["n_cols"]
        status[idx] = rec["status"]
        retries[idx] = rec.get("retries", 0)

    return pd.DataFrame(
        {
            "rec": np.full(n, "data", dtype=object),
            "part_id": pdf["part_id"].to_numpy(np.int32),
            "conv_id": pdf["conv_id"],
            "turn_idx": pdf["turn_idx"].to_numpy(np.int32),
            "tool": pdf["tool"],
            "extracted_text": ext,
            "n_rows": n_rows,
            "n_cols": n_cols,
            "status": status,
            "_retries": retries,
            "_kernel_s": kernel_s,
        }
    )


@python_stage
def _extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """The fused extraction kernel: one Arrow batch in, one out, plus one
    lineage row per logical part at end-of-partition.

    Per-part lineage stats (turn range, wrapping-sum checksum, error count,
    time) are accumulated with vectorized pandas groupby aggregates per batch
    and merged across batches — no per-row Python outside the payload
    kernels. A task runs a block of several parts, so ``duration_ms`` is each
    part's own time: its turns' kernel calls, plus the rest of each batch's
    time (Arrow↔pandas, pass-through, checksums) shared out by row count.
    """
    acc: dict[int, list[Any]] = {}
    for batch in batches:
        t0 = time.perf_counter()
        pdf = batch.to_pandas()
        out = _extract_batch_frame(pdf)

        out["_ck"] = turn_checksums(out["conv_id"], out["turn_idx"], out["extracted_text"])
        out["_err"] = (out["status"] == "error").astype("int64")
        grp = out.groupby("part_id", sort=False).agg(
            conv_min=("conv_id", "min"),
            conv_max=("conv_id", "max"),
            turn_min=("turn_idx", "min"),
            turn_max=("turn_idx", "max"),
            n_turns=("conv_id", "size"),
            checksum=("_ck", lambda s: int(np.add.reduce(s.to_numpy(np.uint64)))),
            error_count=("_err", "sum"),
            retry_count=("_retries", "sum"),
            kernel_s=("_kernel_s", "sum"),
        )
        kernel_total = float(out["_kernel_s"].sum())
        out = out.drop(columns=["_ck", "_err", "_retries", "_kernel_s"])
        rb = pa.RecordBatch.from_pandas(out, schema=_ARROW_SCHEMA, preserve_index=False)
        shared_per_row = (time.perf_counter() - t0 - kernel_total) / max(1, len(out))
        for pid, row in grp.iterrows():
            secs = float(row["kernel_s"]) + shared_per_row * int(row["n_turns"])
            st = acc.get(int(pid))
            if st is None:
                acc[int(pid)] = [
                    row["conv_min"],
                    row["conv_max"],
                    int(row["turn_min"]),
                    int(row["turn_max"]),
                    int(row["n_turns"]),
                    int(row["checksum"]) & ((1 << 64) - 1),
                    int(row["error_count"]),
                    int(row["retry_count"]),
                    secs,
                ]
            else:
                st[0] = min(st[0], row["conv_min"])
                st[1] = max(st[1], row["conv_max"])
                st[2] = min(st[2], int(row["turn_min"]))
                st[3] = max(st[3], int(row["turn_max"]))
                st[4] += int(row["n_turns"])
                st[5] = (st[5] + int(row["checksum"])) & ((1 << 64) - 1)
                st[6] += int(row["error_count"])
                st[7] += int(row["retry_count"])
                st[8] += secs
        yield rb
    if acc:
        pids = sorted(acc)
        lineage_rows = [
            json.dumps(
                {
                    "part_id": pid,
                    "conv_min": st[0],
                    "conv_max": st[1],
                    "turn_min": st[2],
                    "turn_max": st[3],
                    "n_turns": st[4],
                    "checksum": f"{st[5]:016x}",
                    "duration_ms": round(st[8] * 1000),
                    "error_count": st[6],
                    "retry_count": st[7],
                    "status": "ok",
                },
                sort_keys=True,
            )
            for pid, st in sorted(acc.items())
        ]
        k = len(pids)
        yield pa.RecordBatch.from_pydict(
            {
                "rec": ["lineage"] * k,
                "part_id": pids,
                "conv_id": [""] * k,
                "turn_idx": [-1] * k,
                "tool": [LINEAGE_TOOL] * k,
                "extracted_text": lineage_rows,
                "n_rows": [0] * k,
                "n_cols": [0] * k,
                "status": ["ok"] * k,
            },
            schema=_ARROW_SCHEMA,
        )


def warmup_python_workers(df_or_spark) -> None:
    """Force every executor's Python worker pool to spawn and import the
    kernel stack (pandas/numpy/pyarrow) with one trivial mapInArrow pass.

    Workers are reused across stages (spark.python.worker.reuse), so after
    this the extraction stage runs at steady state. 32 workers importing
    pandas concurrently is a measurable one-time cost (~15 s on the bench
    host) that would otherwise be misattributed to per-turn throughput.
    """
    spark = df_or_spark if isinstance(df_or_spark, SparkSession) else df_or_spark.sparkSession
    cores = spark.sparkContext.defaultParallelism

    @python_stage
    def _touch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as _np  # noqa: F401
        import pandas as _pd  # noqa: F401

        from ocr_spark.kernels.extract import extract_turn as _e  # noqa: F401

        for b in batches:
            yield b

    (
        spark.range(cores * 4, numPartitions=cores * 4)
        .mapInArrow(_touch, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def extract_stage(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
    turn_bucket: int = DEFAULT_TURN_BUCKET,
    *,
    finished: DataFrame | None = None,
    only_parts: list[int] | None = None,
) -> DataFrame:
    """transcripts DataFrame → extracted DataFrame (data + lineage rows).

    ``finished`` (a ``part_id`` column, see :func:`_finished_parts`) drops
    the logical parts an earlier run committed; ``only_parts`` keeps just
    the listed parts (used by tests to simulate a job killed after k
    partitions).

    The logical parts run on ``min(num_parts, defaultParallelism)`` tasks,
    each a contiguous block of part ids, assigned directly (no second hash):
    no task is empty when parts ≥ tasks, and the stage runs in one wave, so
    the fixed per-task Python cost is paid once per core, not once per part
    (its largest share, ~0.2 s of CPU, once per worker: see
    :func:`ocr_spark.worker.python_stage`). Lineage does not depend on
    this mapping, and part ids are uniform hashes, so the salting still
    spreads hot conversations across tasks.
    """
    n_tasks = min(num_parts, df.sparkSession.sparkContext.defaultParallelism)
    df = with_part_id(df, num_parts, turn_bucket)
    if finished is not None:
        df = anti_join_unfinished(df, finished, "part_id")
    if only_parts is not None:
        df = df.filter(F.col("part_id").isin([int(p) for p in only_parts]))
    return (
        # prune to the kernel's columns BEFORE the shuffle: ts (and any
        # extra user columns) never cross the exchange or the Python worker
        df.select("part_id", "conv_id", "turn_idx", "text", "tool")
        .repartitionById(
            n_tasks, F.expr(f"CAST(CAST(part_id AS BIGINT) * {n_tasks} DIV {num_parts} AS INT)")
        )
        .mapInArrow(_extract_batches, EXTRACT_SCHEMA)
    )


def read_transcripts(
    spark: SparkSession,
    path: str,
    *,
    start_turn: int | None = None,
    end_turn: int | None = None,
) -> DataFrame:
    """The transcripts parquet, optionally cut to turns in
    [start_turn, end_turn] (pushed down to the parquet scan)."""
    df = spark.read.parquet(path)
    if start_turn is not None:
        df = df.filter(F.col("turn_idx") >= F.lit(int(start_turn)))
    if end_turn is not None:
        df = df.filter(F.col("turn_idx") <= F.lit(int(end_turn)))
    return df


def _data_rows(df: DataFrame) -> DataFrame:
    return df.filter(F.col("rec") == "data").drop("rec")


def _lineage_rows(df: DataFrame) -> DataFrame:
    return (
        df.filter(F.col("rec") == "lineage")
        .select(F.from_json("extracted_text", LINEAGE_JSON_SCHEMA).alias("l"))
        .select("l.*")
    )


def _finished_parts(lineage: DataFrame) -> DataFrame:
    """The logical parts a committed run finished: the resume anti-join's
    (small, broadcast) side."""
    return lineage.filter(F.col("status") == "ok").select("part_id").distinct()


def _has_success_marker(spark: SparkSession, path: str) -> bool:
    """Whether a completed Spark write left ``_SUCCESS`` at ``path`` (checked
    through the Hadoop filesystem, so any URI scheme Spark reads works)."""
    marker = spark._jvm.org.apache.hadoop.fs.Path(path, "_SUCCESS")
    return marker.getFileSystem(spark._jsc.hadoopConfiguration()).exists(marker)


def read_extracted(spark: SparkSession, output_path: str) -> DataFrame:
    """The data rows of a pipeline output (rec partition pruned at scan)."""
    return _data_rows(spark.read.parquet(output_path))


def read_lineage(spark: SparkSession, output_path: str) -> DataFrame:
    """The lineage table of a pipeline output, JSON-decoded."""
    return _lineage_rows(spark.read.parquet(output_path))


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    *,
    num_parts: int = DEFAULT_NUM_PARTS,
    turn_bucket: int = DEFAULT_TURN_BUCKET,
    start_turn: int | None = None,
    end_turn: int | None = None,
    resume: bool = False,
    only_parts: list[int] | None = None,
    summary: Observation | None = None,
) -> DataFrame:
    """Run (or resume) the extraction job; returns the extracted data rows.

    ``resume=True`` reads the existing output's lineage, and processes only
    logical parts without an ok lineage row, appending to the same output —
    the reference's per-page skip-and-continue (scripts/ExtractX_OCR.py:282)
    scaled up to partition granularity (BASELINE.json north_rule). Resume
    starts a fresh run only when no write completed at ``output_path`` (no
    ``_SUCCESS`` marker); any other output that is not a pipeline output
    raises instead of being overwritten.
    ``only_parts`` restricts processing (used by tests to simulate a job
    killed after k partitions). ``summary``, if given, observes
    :func:`summary_metrics` on this run's write.
    """
    finished = None
    if resume and _has_success_marker(spark, output_path):
        finished = _finished_parts(read_lineage(spark, output_path))
    df = read_transcripts(spark, input_path, start_turn=start_turn, end_turn=end_turn)
    out = extract_stage(df, num_parts, turn_bucket, finished=finished, only_parts=only_parts)
    if summary is not None:
        out = out.observe(summary, *summary_metrics())
    mode = "overwrite" if finished is None else "append"
    out.write.partitionBy("rec").mode(mode).parquet(output_path)
    return read_extracted(spark, output_path)


def run_pipeline_snapshots(
    spark: SparkSession,
    input_path: str,
    table_root: str,
    *,
    num_parts: int = DEFAULT_NUM_PARTS,
    turn_bucket: int = DEFAULT_TURN_BUCKET,
    start_turn: int | None = None,
    end_turn: int | None = None,
    resume: bool = False,
    only_parts: list[int] | None = None,
    summary: Observation | None = None,
) -> DataFrame:
    """run_pipeline over the snapshot table layer (ocr_spark.table).

    Each (partial) run publishes ONE atomic snapshot: a run killed between
    writing data files and committing leaves orphan files that no reader
    ever sees, and resume re-processes exactly those parts — strictly
    stronger crash semantics than the directory layout, and the Iceberg
    behavior the north_rule names. Lineage rows ride the same commit, so
    data and its completion record become visible together. ``summary`` is
    as in :func:`run_pipeline`.
    """
    finished = None
    if resume and tbl.current_snapshot_id(table_root) is not None:
        finished = _finished_parts(read_lineage_table(spark, table_root))
    df = read_transcripts(spark, input_path, start_turn=start_turn, end_turn=end_turn)
    out = extract_stage(df, num_parts, turn_bucket, finished=finished, only_parts=only_parts)
    if summary is not None:
        out = out.observe(summary, *summary_metrics())
    tbl.commit_append(
        spark, table_root, out, part_col="part_id", overwrite=finished is None
    )
    return read_extracted_table(spark, table_root)


def read_extracted_table(spark: SparkSession, table_root: str) -> DataFrame:
    return _data_rows(tbl.read_table(spark, table_root))


def read_lineage_table(spark: SparkSession, table_root: str) -> DataFrame:
    return _lineage_rows(tbl.read_table(spark, table_root))


ASSEMBLE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("row_seq", T.IntegerType()),
        T.StructField("col_idx", T.IntegerType()),
        T.StructField("col_name", T.StringType()),
        T.StructField("cell", T.StringType()),
    ]
)

_ASSEMBLE_ARROW_SCHEMA = to_arrow_schema(ASSEMBLE_SCHEMA)


@python_stage
def _assemble_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Conversation-sorted (conv_id, turn_idx, extracted_text) batches →
    long spans, one output batch per input batch that completes a
    conversation, and one for the last conversation.

    A conversation is flushed when the next one starts, so its pages may
    arrive over several batches; the last one is flushed at end of input.
    """
    spans: dict[str, list] = {name: [] for name in ASSEMBLE_SCHEMA.names}

    def flush(conv_id: str, pages: list) -> None:
        cols, rows = align_pages(pages)
        for r_i, row in enumerate(rows):
            n = len(row)
            spans["conv_id"].extend([conv_id] * n)
            spans["row_seq"].extend([r_i] * n)
            spans["col_idx"].extend(range(n))
            spans["col_name"].extend(cols[:n])
            spans["cell"].extend(
                c if c is None or isinstance(c, str) else json.dumps(c) for c in row
            )

    def emit() -> pa.RecordBatch:
        rb = pa.RecordBatch.from_pydict(spans, schema=_ASSEMBLE_ARROW_SCHEMA)
        for v in spans.values():
            v.clear()
        return rb

    conv_id, pages = None, []
    for batch in batches:
        for cid, text in zip(
            batch.column("conv_id").to_pylist(), batch.column("extracted_text").to_pylist()
        ):
            if cid != conv_id:
                if pages:
                    flush(conv_id, pages)
                conv_id, pages = cid, []
            o = json.loads(text)
            pages.append((o["columns"], o["rows"]))
        if spans["conv_id"]:
            yield emit()
    if pages:
        flush(conv_id, pages)
        yield emit()


def assemble_conversations(extracted: DataFrame) -> DataFrame:
    """Per-conversation combined table (reference schema_align_union,
    scripts/ExtractX_OCR.py:549-572) in long-span form.

    One exchange on conv_id into ``defaultParallelism`` partitions (a fixed
    count, so AQE keeps it instead of coalescing a small input into one
    serial task), a sort by (conv_id, turn_idx) within each partition, then
    one mapInArrow that walks conversation boundaries: the stage is one
    wave of Python tasks, and the Python boundary is paid once per Arrow
    batch, not once per conversation. The align kernel is shared with the
    oracle for bit-parity.
    """
    n_tasks = extracted.sparkSession.sparkContext.defaultParallelism
    return (
        extracted.filter(F.col("tool").isin("grid", "json"))
        .select("conv_id", "turn_idx", "extracted_text")
        .repartition(n_tasks, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .mapInArrow(_assemble_batches, ASSEMBLE_SCHEMA)
    )
