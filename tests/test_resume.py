"""Checkpoint-resume: kill after k logical partitions, resume, and the final
output equals a single-shot run (BASELINE.json north_rule)."""

from __future__ import annotations

import json
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


@pytest.mark.parametrize("layout", [[], ["--snapshot-table"]], ids=["plain", "snapshot"])
def test_job_summary_covers_this_run_only(spark, corpus, tmp_path, capsys, layout):
    """The job summary is observed on the run's own write: a resume counts
    only the parts it ran, and a resume with nothing left reports zero
    (and returns, although its write has no rows)."""
    import job

    path, pdf = corpus
    base = ["--input", path, "--output", str(tmp_path / "out"), "--num-parts", "8",
            "--no-warmup", *layout]

    def run(*extra) -> dict:
        assert job.main(base + list(extra)) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    first = run("--only-parts", "0,1,2,3")
    second = run("--resume")
    third = run("--resume")
    assert 0 < first["rows"] < len(pdf)
    assert first["rows"] + second["rows"] == len(pdf)
    assert 0 < second["parts_done"] <= 8 - first["parts_done"]
    for s in (first, second):
        assert len(s["part_ms_hist"]) == 24
        assert sum(s["part_ms_hist"]) == s["parts_done"]
        assert s["part_ms_p50"] <= s["part_ms_max"]
    assert third["rows"] == 0 and third["parts_done"] == 0
    assert third["part_ms_hist"] is None
    assert third["turns_per_sec"] == 0


def test_summary_hist_buckets_are_log2_and_clamped(spark):
    """Bucket 0 holds 0 ms, bucket i holds [2^(i-1), 2^i) ms, and the
    last bucket also holds every duration above it: nothing is dropped."""
    from pyspark.sql import Observation

    from ocr_spark.pipeline import PART_MS_BUCKETS, summary_metrics

    durations = [0, 1, 2, 3, 4, 1023, 1024, 2**22, 2**22 + 5, 2**40]
    rows = [("lineage", "ok", json.dumps({"duration_ms": d})) for d in durations]
    rows += [("data", "ok", "x"), ("data", "error", "")]
    obs = Observation()
    spark.createDataFrame(rows, "rec string, status string, extracted_text string").observe(
        obs, *summary_metrics()
    ).write.format("noop").mode("overwrite").save()
    got = obs.get
    want = [0] * PART_MS_BUCKETS
    for i in (0, 1, 2, 2, 3, 10, 11, 23, 23, 23):
        want[i] += 1
    assert list(got["hist"]) == want
    assert sum(got["hist"]) == got["parts"] == len(durations)
    assert (got["rows"], got["errors"]) == (2, 1)
    assert (got["min_ms"], got["max_ms"]) == (0, 2**40)


def test_summary_metrics_match_python_log2_buckets(spark):
    """hist/parts/min_ms/max_ms over random part durations equal a Python
    log2 bucketing; with no lineage rows the histogram is 24 zeros."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Observation

    from ocr_spark.pipeline import PART_MS_BUCKETS, summary_metrics

    @settings(max_examples=15, deadline=None)
    @example([])
    @example([0, 2**40])
    @given(st.lists(st.integers(0, 2**40), max_size=40))
    def check(durations):
        rows = [("lineage", "ok", json.dumps({"duration_ms": d})) for d in durations]
        rows += [("data", "ok", "x")]
        obs = Observation()
        spark.createDataFrame(rows, "rec string, status string, extracted_text string").observe(
            obs, *summary_metrics()
        ).write.format("noop").mode("overwrite").save()
        got = obs.get
        want = [0] * PART_MS_BUCKETS
        for d in durations:
            want[min(d.bit_length(), PART_MS_BUCKETS - 1)] += 1
        assert list(got["hist"]) == want
        assert got["parts"] == len(durations)
        assert got["min_ms"] == (min(durations) if durations else None)
        assert got["max_ms"] == (max(durations) if durations else None)

    check()


def test_assemble_over_written_output_matches_oracle(spark, corpus, tmp_path):
    """The --assemble job path composes read_extracted → Arrow-map
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
