"""Distributed pipeline vs pandas oracle — the driver's pass criterion:
per-turn text equality under (conv_id, turn_idx) ordering, plus lineage,
salting, and order-invariance properties."""

from __future__ import annotations

import json
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from ocr_spark import table as tbl
from ocr_spark.fixtures import make_transcripts
from ocr_spark.oracle import oracle_assemble, oracle_extract
from ocr_spark.pipeline import (
    _extract_batches,
    assemble_conversations,
    extract_stage,
    read_extracted,
    read_lineage,
    run_pipeline,
    run_pipeline_snapshots,
    turn_checksums,
    with_part_id,
)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    pdf = make_transcripts(n_convs=60, turns_low=3, turns_high=12, seed=42)
    path = str(d / "transcripts.parquet")
    pdf.to_parquet(path, index=False)
    return path, pdf


def turn_checksum(conv_id: str, turn_idx: int, text: str) -> int:
    """One turn's checksum, through the same hasher as the pipeline."""
    return int(turn_checksums(pd.Series([conv_id]), pd.Series([turn_idx]), pd.Series([text]))[0])


def _sorted_pdf(df) -> pd.DataFrame:
    return (
        df.sortWithinPartitions("conv_id", "turn_idx")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], ignore_index=True)
    )


def test_per_turn_text_equality(spark, corpus, tmp_path):
    path, pdf = corpus
    out = str(tmp_path / "out")
    got = _sorted_pdf(run_pipeline(spark, path, out, num_parts=16))
    want = oracle_extract(pdf)
    assert len(got) == len(want)
    assert got["conv_id"].tolist() == want["conv_id"].tolist()
    assert got["turn_idx"].tolist() == want["turn_idx"].tolist()
    # THE contract: per-turn extracted text equality
    mism = got["extracted_text"].values != want["extracted_text"].values
    assert not mism.any(), got[mism].head()
    assert got["status"].tolist() == want["status"].tolist()
    assert got["n_rows"].tolist() == want["n_rows"].tolist()
    assert got["n_cols"].tolist() == want["n_cols"].tolist()


def test_output_invariant_to_partitioning(spark, corpus, tmp_path):
    """Nothing may depend on partition count or input row order."""
    path, pdf = corpus
    base = _sorted_pdf(run_pipeline(spark, path, str(tmp_path / "a"), num_parts=4))
    more = _sorted_pdf(run_pipeline(spark, path, str(tmp_path / "b"), num_parts=64))
    shuffled_path = str(tmp_path / "shuffled.parquet")
    pdf.sample(frac=1.0, random_state=7).to_parquet(shuffled_path, index=False)
    shuf = _sorted_pdf(
        run_pipeline(spark, shuffled_path, str(tmp_path / "c"), num_parts=16)
    )
    for other in (more, shuf):
        assert base["extracted_text"].tolist() == other["extracted_text"].tolist()


def test_lineage_rows(spark, corpus, tmp_path):
    path, pdf = corpus
    out = str(tmp_path / "out")
    got = run_pipeline(spark, path, out, num_parts=16)
    lin = read_lineage(spark, out).toPandas()
    assert set(lin.columns) >= {
        "part_id",
        "conv_min",
        "conv_max",
        "turn_min",
        "turn_max",
        "n_turns",
        "checksum",
        "duration_ms",
        "error_count",
        "status",
    }
    # every turn accounted for, exactly once
    assert lin["n_turns"].sum() == len(pdf)
    assert lin["part_id"].is_unique
    assert (lin["status"] == "ok").all()
    assert (lin["duration_ms"] >= 0).all()
    # checksum recomputes from the data rows
    data = got.toPandas()
    data = data.merge(lin[["part_id", "checksum"]], on="part_id")
    recomputed = {}
    for pid, grp in data.groupby("part_id"):
        s = 0
        for _, r in grp.iterrows():
            s = (s + turn_checksum(r["conv_id"], r["turn_idx"], r["extracted_text"])) % (
                1 << 64
            )
        recomputed[pid] = f"{s:016x}"
    for pid, grp in data.groupby("part_id"):
        assert grp["checksum"].iloc[0] == recomputed[pid]


def test_salting_splits_long_conversations(spark, tmp_path):
    pdf = make_transcripts(n_convs=10, turns_low=3, turns_high=6, skew_conv_turns=2000)
    path = str(tmp_path / "skew.parquet")
    pdf.to_parquet(path, index=False)
    df = with_part_id(
        spark.read.parquet(path), num_parts=32, turn_bucket=64
    )
    skew_conv = pdf["conv_id"].iloc[-1]
    parts = (
        df.filter(F.col("conv_id") == skew_conv)
        .select("part_id")
        .distinct()
        .count()
    )
    # 2000 turns / 64-turn buckets ≈ 32 buckets → spread over many parts
    assert parts >= 16
    # and the extraction output is unchanged by the salting
    out = run_pipeline(spark, path, str(tmp_path / "out"), num_parts=32)
    want = oracle_extract(pdf)
    got = _sorted_pdf(out)
    assert got["extracted_text"].tolist() == want["extracted_text"].tolist()


@pytest.mark.parametrize(
    "runner", [run_pipeline, run_pipeline_snapshots], ids=lambda f: f.__name__
)
def test_turn_range_filter(spark, corpus, tmp_path, runner):
    path, pdf = corpus
    out = str(tmp_path / "out")
    got = _sorted_pdf(runner(spark, path, out, num_parts=8, start_turn=2, end_turn=5))
    sub = pdf[(pdf["turn_idx"] >= 2) & (pdf["turn_idx"] <= 5)]
    want = oracle_extract(sub)
    assert got["extracted_text"].tolist() == want["extracted_text"].tolist()


def test_assemble_matches_oracle(spark, corpus, tmp_path):
    path, pdf = corpus
    out = str(tmp_path / "out")
    extracted = run_pipeline(spark, path, out, num_parts=16)
    got = (
        assemble_conversations(extracted)
        .toPandas()
        .sort_values(["conv_id", "row_seq", "col_idx"], ignore_index=True)
    )
    want_turns = oracle_extract(pdf)
    tools = (
        pdf.sort_values(["conv_id", "turn_idx"], ignore_index=True)["tool"]
    )
    want = oracle_assemble(want_turns, tools).sort_values(
        ["conv_id", "row_seq", "col_idx"], ignore_index=True
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got.astype({"row_seq": "int64", "col_idx": "int64"}),
        want.astype({"row_seq": "int64", "col_idx": "int64"}),
    )


def test_assemble_across_batch_and_part_boundaries(spark, corpus, tmp_path):
    """Two-record Arrow batches and two-turn salt buckets: conversations
    straddle both batch edges and extraction parts, and the sorted Arrow
    map must still equal the oracle. No grid/json turn, no span."""
    path, pdf = corpus
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        extracted = run_pipeline(spark, path, str(tmp_path / "out"), num_parts=16, turn_bucket=2)
        got = (
            assemble_conversations(extracted)
            .toPandas()
            .sort_values(["conv_id", "row_seq", "col_idx"], ignore_index=True)
        )
        n_plain = assemble_conversations(extracted.filter(F.col("tool") == "text")).count()
    finally:
        spark.conf.set(conf, old)
    tools = pdf.sort_values(["conv_id", "turn_idx"], ignore_index=True)["tool"]
    want = oracle_assemble(oracle_extract(pdf), tools).sort_values(
        ["conv_id", "row_seq", "col_idx"], ignore_index=True
    )
    # some conversation has more table turns than one batch holds
    assert pdf["tool"].isin(["grid", "json"]).groupby(pdf["conv_id"]).sum().max() > 2
    pd.testing.assert_frame_equal(
        got.astype({"row_seq": "int64", "col_idx": "int64"}),
        want.astype({"row_seq": "int64", "col_idx": "int64"}),
    )
    assert n_plain == 0


def test_extract_stage_plan_has_single_exchange(spark, corpus):
    """One shuffle (the explicit salted repartition), no more — also with
    the resume anti-join, whose finished side is broadcast."""
    path, _ = corpus
    df = extract_stage(spark.read.parquet(path), num_parts=16)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1

    finished = spark.createDataFrame([(0,), (3,)], "part_id int")
    df = extract_stage(spark.read.parquet(path), num_parts=16, finished=finished)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
    assert plan.count("direct_shuffle_partition_id(cast(((cast(part_id#") == 1
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_parts_run_as_contiguous_blocks_one_task_per_core(spark, corpus):
    """Logical parts (the resume unit) are decoupled from physical tasks:
    64 parts run on min(64, cores) tasks (one wave), none empty, each a
    contiguous part_id block — and lineage is what the driver computes from
    the input alone, whatever the part → task map."""
    path, pdf = corpus
    out = extract_stage(spark.read.parquet(path), 64)
    n_tasks = min(64, spark.sparkContext.defaultParallelism)
    blocks = (
        out.filter(F.col("rec") == "data")
        .groupBy(F.spark_partition_id().alias("task"))
        .agg(F.min("part_id").alias("lo"), F.max("part_id").alias("hi"))
        .orderBy("lo")
        .toPandas()
    )
    assert len(blocks) == n_tasks
    # contiguous: the tasks' [lo, hi] part ranges do not interleave
    assert (blocks["hi"].to_numpy()[:-1] < blocks["lo"].to_numpy()[1:]).all()

    lin = pd.DataFrame(
        [
            json.loads(r["extracted_text"])
            for r in out.filter(F.col("rec") == "lineage").collect()
        ]
    )
    parts = with_part_id(spark.read.parquet(path), 64).select(
        "conv_id", "turn_idx", "part_id"
    ).toPandas()
    want = oracle_extract(pdf).merge(parts, on=["conv_id", "turn_idx"])
    want["ck"] = turn_checksums(want["conv_id"], want["turn_idx"], want["extracted_text"])
    want = want.groupby("part_id").agg(
        n_turns=("ck", "size"),
        checksum=("ck", lambda s: f"{int(np.add.reduce(s.to_numpy(np.uint64))):016x}"),
    )
    got = lin.set_index("part_id")[["n_turns", "checksum"]].sort_index()
    pd.testing.assert_frame_equal(
        got, want, check_names=False, check_dtype=False, check_index_type=False
    )


def test_assembly_exchange_is_one_task_per_core(spark, corpus):
    """The assembly exchange has a fixed count, defaultParallelism, so AQE
    keeps it (REPARTITION_BY_NUM, no coalescing read) instead of collapsing
    a small input into one serial Python task."""
    path, _ = corpus
    extracted = extract_stage(spark.read.parquet(path), 16).filter(F.col("rec") == "data")
    df = assemble_conversations(extracted)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    cores = spark.sparkContext.defaultParallelism
    assert re.search(rf"hashpartitioning\(conv_id#\d+, {cores}\), REPARTITION_BY_NUM", plan)
    assert "AQEShuffleRead" not in plan


def test_snapshot_manifest_pruning_is_selective(spark, corpus, tmp_path):
    """Contiguous part blocks per task give data files disjoint
    [part_min, part_max] stats, so part_ids pruning keeps one file."""
    path, _ = corpus
    root = str(tmp_path / "t")
    run_pipeline_snapshots(spark, path, root, num_parts=64)
    files = sorted(
        (f for f in tbl.read_snapshot(root)["files"] if "part_min" in f),
        key=lambda f: f["part_min"],
    )
    assert len(files) > 1
    for a, b in zip(files, files[1:]):
        assert a["part_max"] < b["part_min"]
    p = files[len(files) // 2]["part_min"]
    pruned = tbl.read_table(spark, root, part_ids=[p])
    assert len(pruned.inputFiles()) == 1
    assert pruned.filter(F.col("part_id") == p).count() > 0


def test_duration_ms_is_per_part_within_one_task():
    """One task holding a grid-only part and a plain-text-only part charges
    each its own time: the grid kernel's cost lands on the grid part."""
    pdf = make_transcripts(n_convs=80, seed=3)
    grid = pdf[pdf["tool"] == "grid"].head(60).assign(part_id=np.int32(0))
    plain = pdf[pdf["tool"] == "null"].head(60).assign(part_id=np.int32(1))
    both = pd.concat([grid, plain]).sort_values(["conv_id", "turn_idx"])
    cols = ["part_id", "conv_id", "turn_idx", "text", "tool"]
    table = pa.Table.from_pandas(both[cols], preserve_index=False)
    out = pa.Table.from_batches(list(_extract_batches(iter(table.to_batches(40)))))
    lin = {
        r["part_id"]: json.loads(r["extracted_text"])
        for r in out.to_pylist()
        if r["rec"] == "lineage"
    }
    assert lin[0]["n_turns"] == lin[1]["n_turns"] == 60
    assert lin[0]["duration_ms"] > lin[1]["duration_ms"]
