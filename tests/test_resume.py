"""Checkpoint-resume: kill after k logical partitions, resume, and the final
output equals a single-shot run (BASELINE.json north_rule)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from ocr_spark.fixtures import make_transcripts
from ocr_spark.pipeline import (
    read_extracted,
    read_extracted_table,
    read_lineage,
    read_lineage_table,
    run_pipeline,
    run_pipeline_snapshots,
)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("resume_corpus")
    pdf = make_transcripts(n_convs=40, turns_low=3, turns_high=10, seed=43)
    path = str(d / "transcripts.parquet")
    pdf.to_parquet(path, index=False)
    return path, pdf


def _canon(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["conv_id", "turn_idx"], ignore_index=True)
        .reset_index(drop=True)
    )


@pytest.mark.parametrize(
    "run, read_data, read_lin",
    [
        (run_pipeline, read_extracted, read_lineage),
        (run_pipeline_snapshots, read_extracted_table, read_lineage_table),
    ],
    ids=["run_pipeline", "run_pipeline_snapshots"],
)
def test_kill_and_resume_is_identical(spark, corpus, tmp_path, run, read_data, read_lin):
    path, _ = corpus
    full_out = str(tmp_path / "full")
    run(spark, path, full_out, num_parts=16)
    full = _canon(read_data(spark, full_out))
    all_parts = sorted(read_lin(spark, full_out).toPandas()["part_id"].tolist())

    # simulate a job killed after processing only the first k parts
    partial_out = str(tmp_path / "partial")
    k = len(all_parts) // 2
    run(spark, path, partial_out, num_parts=16, only_parts=all_parts[:k])
    done = read_lin(spark, partial_out).toPandas()
    assert sorted(done["part_id"]) == all_parts[:k]

    # resume: only unfinished parts run, appended to the same output
    run(spark, path, partial_out, num_parts=16, resume=True)
    lin = read_lin(spark, partial_out).toPandas()
    assert sorted(lin["part_id"]) == all_parts  # each part exactly once
    resumed = _canon(read_data(spark, partial_out))
    pd.testing.assert_frame_equal(resumed, full)


def test_resume_refuses_to_overwrite_foreign_output(spark, corpus, tmp_path):
    """Resume falls back to a fresh (overwriting) run only when nothing was
    committed at the output; a committed dataset that is not a pipeline
    output makes it raise and stay as it was."""
    path, _ = corpus
    out = str(tmp_path / "foreign")
    spark.range(10).write.parquet(out)
    files = sorted(os.listdir(out))
    with pytest.raises(AnalysisException):
        run_pipeline(spark, path, out, num_parts=8, resume=True)
    assert sorted(os.listdir(out)) == files
    assert spark.read.parquet(out).count() == 10


def test_resume_after_everything_done_is_noop(spark, corpus, tmp_path):
    path, _ = corpus
    out = str(tmp_path / "out")
    run_pipeline(spark, path, out, num_parts=8)
    before = _canon(read_extracted(spark, out))
    run_pipeline(spark, path, out, num_parts=8, resume=True)
    lin = read_lineage(spark, out).toPandas()
    assert lin["part_id"].is_unique  # no part re-ran
    after = _canon(read_extracted(spark, out))
    pd.testing.assert_frame_equal(after, before)


def test_resume_processes_only_unfinished(spark, corpus, tmp_path):
    path, pdf = corpus
    out = str(tmp_path / "out")
    run_pipeline(spark, path, out, num_parts=16, only_parts=[0, 1, 2, 3])
    n_before = read_extracted(spark, out).count()
    run_pipeline(spark, path, out, num_parts=16, resume=True)
    # appended rows = total - already-done rows
    total = read_extracted(spark, out).count()
    assert total == len(pdf)
    assert n_before < total
    # no duplicated turns
    dups = (
        read_extracted(spark, out)
        .groupBy("conv_id", "turn_idx")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def test_part_duration_hist_flags_straggler(spark):
    """The job-summary histogram puts a straggler part in the last bucket
    and conserves the part count."""
    import job

    lineage = spark.createDataFrame(
        [(i, d) for i, d in enumerate([10, 12, 11, 13, 10, 95])],
        "part_id int, duration_ms long",
    )
    h = job.part_duration_hist(lineage, 10, 95)
    assert sum(h["counts"]) == 6
    assert h["counts"][0] == 5  # the homogeneous fast parts
    assert h["counts"][7] == 1  # the straggler
    assert h["min_ms"] == 10 and h["width_ms"] == 11


def test_assemble_over_written_output_matches_oracle(spark, corpus, tmp_path):
    """The --assemble job path composes read_extracted → grouped-map
    assembly over the WRITTEN parquet (not the in-memory frame) — its
    spans must equal the pandas oracle's combined tables."""
    import json as _json

    from ocr_spark.oracle import oracle_assemble, oracle_extract
    from ocr_spark.pipeline import assemble_conversations

    path, pdf = corpus
    out = str(tmp_path / "out")
    run_pipeline(spark, path, out, num_parts=8)
    got = (
        assemble_conversations(read_extracted(spark, out))
        .toPandas()
        .sort_values(["conv_id", "row_seq", "col_idx"], ignore_index=True)
    )
    ext = oracle_extract(pdf)
    want = oracle_assemble(ext, pdf.sort_values(["conv_id", "turn_idx"])["tool"])
    want = want.sort_values(["conv_id", "row_seq", "col_idx"], ignore_index=True)
    assert len(got) == len(want)
    for c in ["conv_id", "row_seq", "col_idx", "col_name"]:
        assert (got[c].values == want[c].values).all(), c
    ga = got["cell"].map(lambda v: "∅" if v is None or v != v else v)
    wa = want["cell"].map(lambda v: "∅" if v is None or v != v else v)
    assert (ga.values == wa.values).all()
