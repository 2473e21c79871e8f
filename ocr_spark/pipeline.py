"""The distributed extraction pipeline.

Dataflow (SURVEY.md §3.4):

    read_transcripts: parquet → optional turn-range filter (row-group pruning)
    extract_stage, the one place the plan is built:
      → part_id = pmod(xxhash64(conv_id, floor(turn_idx/BUCKET)), P)
      → optional resume anti-join / only_parts filter (skip logical parts)
      → repartition(P, part_id)             (explicit SALTED repartition:
                                             the turn bucket splits long
                                             conversations across parts)
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
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

#: Default number of logical resume partitions; at 10^12 turns this would be
#: sized to ~1-4 GB of input per part (e.g. 2^17 parts), here sized for
#: local[32] with ≥4x parts per core at the bench scale.
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


def turn_checksum(conv_id: str, turn_idx: int, text: str) -> int:
    """Scalar convenience wrapper over :func:`turn_checksums`."""
    return int(
        turn_checksums(
            pd.Series([conv_id]), pd.Series([turn_idx]), pd.Series([text])
        )[0]
    )


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
    kernels, over just their row subsets.
    """
    n = len(pdf)
    text = pdf["text"].astype("object")
    tool = pdf["tool"].to_numpy(dtype=object)

    ext = np.empty(n, dtype=object)
    n_rows = np.zeros(n, dtype=np.int32)
    n_cols = np.zeros(n, dtype=np.int32)
    status = np.empty(n, dtype=object)
    retries = np.zeros(n, dtype=np.int64)

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
        rec = extract_turn(text.iloc[idx], tool[idx])
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
        }
    )


def _extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """The fused extraction kernel: one Arrow batch in, one out, plus one
    lineage row per logical part at end-of-partition.

    Per-part lineage stats (turn range, wrapping-sum checksum, error count)
    are accumulated with vectorized pandas groupby aggregates per batch and
    merged across batches — no per-row Python outside the payload kernels.
    """
    start = time.monotonic()
    acc: dict[int, list[Any]] = {}
    for batch in batches:
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
        )
        for pid, row in grp.iterrows():
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

        out = out.drop(columns=["_ck", "_err", "_retries"])
        yield pa.RecordBatch.from_pandas(
            out, schema=_ARROW_SCHEMA, preserve_index=False
        )
    stats = {
        pid: {
            "conv_min": st[0],
            "conv_max": st[1],
            "turn_min": st[2],
            "turn_max": st[3],
            "n_turns": st[4],
            "checksum": st[5],
            "error_count": st[6],
            "retry_count": st[7],
        }
        for pid, st in acc.items()
    }
    if stats:
        duration_ms = int((time.monotonic() - start) * 1000)
        lineage_rows = [
            json.dumps(
                {
                    "part_id": pid,
                    "conv_min": st["conv_min"],
                    "conv_max": st["conv_max"],
                    "turn_min": st["turn_min"],
                    "turn_max": st["turn_max"],
                    "n_turns": st["n_turns"],
                    "checksum": f"{st['checksum']:016x}",
                    "duration_ms": duration_ms,
                    "error_count": st["error_count"],
                    "retry_count": st["retry_count"],
                    "status": "ok",
                },
                sort_keys=True,
            )
            for pid, st in sorted(stats.items())
        ]
        pids = sorted(stats)
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
    """
    df = with_part_id(df, num_parts, turn_bucket)
    if finished is not None:
        df = anti_join_unfinished(df, finished, "part_id")
    if only_parts is not None:
        df = df.filter(F.col("part_id").isin([int(p) for p in only_parts]))
    return (
        # prune to the kernel's columns BEFORE the shuffle: ts (and any
        # extra user columns) never cross the exchange or the Python worker
        df.select("part_id", "conv_id", "turn_idx", "text", "tool")
        .repartition(num_parts, "part_id")
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
    killed after k partitions).
    """
    finished = None
    if resume and _has_success_marker(spark, output_path):
        finished = _finished_parts(read_lineage(spark, output_path))
    df = read_transcripts(spark, input_path, start_turn=start_turn, end_turn=end_turn)
    out = extract_stage(df, num_parts, turn_bucket, finished=finished, only_parts=only_parts)
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
) -> DataFrame:
    """run_pipeline over the snapshot table layer (ocr_spark.table).

    Each (partial) run publishes ONE atomic snapshot: a run killed between
    writing data files and committing leaves orphan files that no reader
    ever sees, and resume re-processes exactly those parts — strictly
    stronger crash semantics than the directory layout, and the Iceberg
    behavior the north_rule names. Lineage rows ride the same commit, so
    data and its completion record become visible together.
    """
    finished = None
    if resume and tbl.current_snapshot_id(table_root) is not None:
        finished = _finished_parts(read_lineage_table(spark, table_root))
    df = read_transcripts(spark, input_path, start_turn=start_turn, end_turn=end_turn)
    out = extract_stage(df, num_parts, turn_bucket, finished=finished, only_parts=only_parts)
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


def _assemble_group(pdf) -> Any:
    import pandas as pd

    pdf = pdf.sort_values("turn_idx")
    pages = [
        (lambda o: (o["columns"], o["rows"]))(json.loads(t))
        for t, tool in zip(pdf["extracted_text"], pdf["tool"])
        if tool in ("grid", "json")
    ]
    cols, rows = align_pages(pages)
    out = []
    conv_id = pdf["conv_id"].iloc[0]
    for r_i, row in enumerate(rows):
        for c_i, cell in enumerate(row):
            if cell is not None and not isinstance(cell, str):
                cell = json.dumps(cell)
            out.append((conv_id, r_i, c_i, cols[c_i], cell))
    return pd.DataFrame(
        out, columns=["conv_id", "row_seq", "col_idx", "col_name", "cell"]
    )


def assemble_conversations(extracted: DataFrame) -> DataFrame:
    """Per-conversation combined table (reference schema_align_union,
    scripts/ExtractX_OCR.py:549-572) in long-span form.

    Grouped-map (applyInPandas) over conv_id: per-conversation page lists
    are small (≤ thousands of turns) while the number of conversations is
    huge, so the grouping parallelizes; the align kernel is shared with the
    oracle for bit-parity.
    """
    return (
        extracted.filter(F.col("tool").isin("grid", "json"))
        .select("conv_id", "turn_idx", "tool", "extracted_text")
        .groupBy("conv_id")
        .applyInPandas(_assemble_group, ASSEMBLE_SCHEMA)
    )
