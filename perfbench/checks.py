"""Output checks for the extract workloads, run outside Spark on the files
the job wrote: every input turn appears exactly once, the lineage accounts
for every row with one ok row per logical part, and a seeded sample of whole
conversations equals ``ocr_spark.oracle.oracle_extract`` turn by turn.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from ocr_spark.oracle import oracle_extract

#: Whole conversations checked against the oracle per run.
ORACLE_CONVS = 40
FIELDS = ("extracted_text", "n_rows", "n_cols", "status")
KEY = ["conv_id", "turn_idx"]


def read_output(out_dir: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(data rows, lineage records) of a ``job.py`` output directory."""
    t = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table().to_pandas()
    rec = t["rec"].astype(str)
    data = t[rec == "data"]
    lineage = pd.DataFrame([json.loads(s) for s in t.loc[rec == "lineage", "extracted_text"]])
    return data, lineage


def check_extract(inp: pd.DataFrame, out_dir: str, seed: int) -> dict:
    """Failures are turns that are missing, duplicated, or differ from the
    oracle on the sample, plus one per lineage inconsistency."""
    data, lineage = read_output(out_dir)
    keys = data[KEY].astype({"turn_idx": "int64"})
    dup = int(keys.duplicated().sum())
    got = pd.MultiIndex.from_frame(keys.drop_duplicates())
    want = pd.MultiIndex.from_frame(inp[KEY].astype({"turn_idx": "int64"}))
    missing = int((~want.isin(got)).sum())
    extra = int((~got.isin(want)).sum())

    lineage_bad = 0
    if lineage.empty or int(lineage["n_turns"].sum()) != len(data):
        lineage_bad += 1
    if not lineage.empty:
        ok = lineage[lineage["status"] == "ok"]
        per_part = ok.groupby("part_id").size()
        lineage_bad += int((per_part != 1).sum())
        lineage_bad += len(set(data["part_id"]) - set(per_part.index))

    convs = np.sort(inp["conv_id"].unique())
    rng = np.random.default_rng([seed, 3])
    sample = set(rng.choice(convs, size=min(ORACLE_CONVS, len(convs)), replace=False))
    sub = inp[inp["conv_id"].isin(sample)]
    oracle = oracle_extract(sub).astype({"turn_idx": "int64"})
    mine = data[data["conv_id"].isin(sample)].astype({"turn_idx": "int64"})
    both = oracle.merge(mine, on=KEY, how="left", suffixes=("", "_got"))
    differ = np.zeros(len(both), dtype=bool)
    for f in FIELDS:
        differ |= ~(both[f].astype(object).values == both[f + "_got"].astype(object).values)
    mismatched = int(differ.sum())
    return {
        "attempted": len(inp),
        "failed": missing + dup + extra + mismatched + lineage_bad,
        "rows": len(data),
        "missing": missing,
        "duplicate": dup,
        "unexpected": extra,
        "oracle_turns": len(both),
        "oracle_mismatch": mismatched,
        "lineage_bad": lineage_bad,
    }
