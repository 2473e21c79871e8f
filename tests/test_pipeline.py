"""Distributed pipeline vs pandas oracle — the driver's pass criterion:
per-turn text equality under (conv_id, turn_idx) ordering, plus lineage,
salting, and order-invariance properties."""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_spark.fixtures import make_transcripts
from ocr_spark.oracle import oracle_assemble, oracle_extract
from ocr_spark.pipeline import (
    assemble_conversations,
    extract_stage,
    read_extracted,
    read_lineage,
    run_pipeline,
    run_pipeline_snapshots,
    turn_checksum,
    with_part_id,
)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    pdf = make_transcripts(n_convs=60, turns_low=3, turns_high=12, seed=42)
    path = str(d / "transcripts.parquet")
    pdf.to_parquet(path, index=False)
    return path, pdf


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
    assert plan.count("Exchange hashpartitioning(part_id") == 1
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
