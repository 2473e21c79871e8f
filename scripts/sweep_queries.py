"""Time EVERY __spark_entry__.queries() entry at a given sf dir.

Usage: python scripts/sweep_queries.py [--sf /root/testdata/sf0.1]

Prints one JSON line {"sf": ..., "total_sec": ..., "queries": {name: sec}}
and rewrites SWEEP.md. This is the per-query timing of the whole contract
surface (`perfbench/run.py` measures the extraction job end to end): every
operator must RUN at 10× the contract-check scale, and the per-query trend
across rounds catches regressions the correctness gate cannot see. Spark
runs on every CPU this process may use.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    args = p.parse_args()

    import __spark_entry__ as se
    from ocr_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        app="sweep", master=f"local[{cpus}]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")

    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    t_all = time.monotonic()
    for name, fn in se.queries().items():
        t0 = time.monotonic()
        rows[name] = fn(spark, args.sf).count()
        times[name] = round(time.monotonic() - t0, 2)
        print(f"{name}: {times[name]}s rows={rows[name]}", file=sys.stderr, flush=True)
    total = round(time.monotonic() - t_all, 1)

    # LSH precision telemetry: candidate:verified ratio is THE dedup cost
    # regression metric (at 100 TB the exact-Jaccard verify on false
    # candidates dominates the chain; r2's token-unigram signatures sat
    # at ~4000:1, the shingle signatures target ~1:1)
    from ocr_spark.operators import dedup as _dedup

    docs = spark.read.parquet(os.path.join(args.sf, "documents.parquet"))
    n_cand = _dedup.lsh_candidate_pairs(docs).count()
    n_verified = rows.get("dedup_verified_pairs")
    if n_verified is None:
        n_verified = _dedup.verified_dup_pairs(docs).count()
    ratio = round(n_cand / max(n_verified, 1), 2)

    out = {
        "sf": args.sf,
        "total_sec": total,
        "queries": times,
        "lsh_candidates": n_cand,
        "lsh_verified": n_verified,
        "lsh_candidate_verified_ratio": ratio,
    }
    print(json.dumps(out))

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SWEEP.md"), "w") as f:
        f.write(
            "# SWEEP — every contract query timed at sf0.1\n\n"
            "Regenerate with `python scripts/sweep_queries.py`. This is the\n"
            "per-query timing of the whole contract surface (10× the\n"
            f"correctness-check scale) at `local[{cpus}]`; `perfbench/run.py`\n"
            "measures the extraction job end to end. Timings are one\n"
            "warm-session run on the shared host — trend, not gospel.\n"
            f"Total: {total}s for "
            f"{len(times)} queries.\n\n"
            f"MinHash-LSH precision: {n_cand} candidates → {n_verified} "
            f"verified pairs (ratio {ratio}:1; the dedup-chain cost "
            "regression metric — candidates that fail verify are pure "
            "waste at scale).\n\n"
            "| query | sec | rows |\n|---|---|---|\n"
        )
        for name in sorted(times, key=times.get, reverse=True):
            f.write(f"| {name} | {times[name]} | {rows[name]} |\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
