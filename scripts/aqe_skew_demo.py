"""AQE skew-join evidence: the runtime safety net UNDER the engine's
explicit salting (SKEW.md section 1 covers the salted extraction stage;
this demonstrates what Spark itself does when a skewed JOIN reaches the
shuffle un-salted).

Builds the transcripts join shape the north_rule warns about — one hot
conversation owning ~2/3 of all turns, joined to a per-conversation dim
table — with broadcast disabled so a sort-merge join must shuffle on
conv_id. Runs it twice: skewJoin OFF (the hot key is one straggler
reducer) and skewJoin ON (AQE splits the oversized partition into
advisory-sized slices and replicates the matching dim rows), then
appends the wall clocks and the `SortMergeJoin(skew=true)` final-plan
line to SKEW.md.

Spark runs on every CPU this process may use. Usage: python
scripts/aqe_skew_demo.py [--turns 2000000]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: demo-scale AQE thresholds: low enough that a multi-MB hot partition
#: qualifies as skewed (prod defaults are 256MB/64MB — same mechanism,
#: bigger numbers)
_CONF = {
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def _skewed_join(spark, turns: int, n_convs: int = 256):
    from pyspark.sql import functions as F

    n_hot = (2 * turns) // 3
    left = spark.range(turns).select(
        F.when(F.col("id") < n_hot, F.lit("conv-hot"))
        .otherwise(
            F.concat(F.lit("conv-"), (F.col("id") % n_convs).cast("string"))
        )
        .alias("conv_id"),
        F.col("id").alias("turn_idx"),
        F.repeat(F.lit("x"), 128).alias("text"),
    )
    right = spark.range(n_convs + 1).select(
        F.when(F.col("id") == n_convs, F.lit("conv-hot"))
        .otherwise(F.concat(F.lit("conv-"), F.col("id").cast("string")))
        .alias("conv_id"),
        F.col("id").alias("conv_meta"),
    )
    return left.join(right, "conv_id").select(
        "conv_id", "turn_idx", F.length("text").alias("n"), "conv_meta"
    )


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--turns", type=int, default=2_000_000)
    args = p.parse_args(argv)

    from ocr_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app="aqe-skew-demo", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in _CONF.items():
        spark.conf.set(k, v)

    results = {}
    for mode, enabled in (("off", "false"), ("on", "true")):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", enabled)
        # aggregate per join-output row so the collect is tiny but the
        # skewed SMJ still runs inside THIS DataFrame's queryExecution
        # (a .write/.count spawns a separate execution whose final plan
        # we couldn't inspect). The agg key must NOT be conv_id: an agg
        # keyed on the join key could reuse the join's partitioning, and
        # AQE then refuses to split the skewed partition (the split
        # breaks hash distribution for the parent).
        from pyspark.sql import functions as F

        j = (
            _skewed_join(spark, args.turns)
            .groupBy((F.col("turn_idx") % 64).alias("bucket"))
            .count()
        )
        t0 = time.monotonic()
        j.collect()
        wall = time.monotonic() - t0
        plan = j._jdf.queryExecution().executedPlan().toString()
        smj = next(
            (ln.strip() for ln in plan.splitlines() if "SortMergeJoin" in ln),
            "",
        )
        results[mode] = (wall, smj, bool(re.search(r"skew=true", plan)))
        print(f"skewJoin {mode}: {wall:.1f}s  {smj[:100]}", file=sys.stderr)

    if results["off"][2]:
        raise RuntimeError("the skewJoin-off control run was split (skew=true)")
    if not results["on"][2]:
        print(
            f"--turns {args.turns:,} is too small to show the split: with "
            "skewJoin on, AQE did not mark the join skew=true; SKEW.md not updated",
            file=sys.stderr,
        )
        return 1

    section = f"""
## AQE skew-join (runtime safety net under the explicit salting)

Same join, same thresholds (skewedPartitionThresholdInBytes=256KB,
advisoryPartitionSizeInBytes=128KB, factor=2 — demo-scaled versions of
the 256MB/64MB prod defaults), broadcast disabled; one conversation owns
2/3 of {args.turns:,} turns. Regenerate: `python scripts/aqe_skew_demo.py`.

| skewJoin | stage wall | final-plan join node |
|---|---|---|
| off | {results['off'][0]:.1f}s | `{results['off'][1]}` |
| on | {results['on'][0]:.1f}s | `{results['on'][1]}` |

With skewJoin on, AQE rewrites the join to `SortMergeJoin(skew=true)`:
the hot reducer partition is split into advisory-sized slices, each
joined against a replicated copy of the matching dim rows — the
straggler becomes ~partition_bytes/advisory parallel tasks (treat the
plan rewrite, not the wall ratio, as the evidence — single-host timings
swing, see "Hard-won environment facts"). The mechanism is what matters
at 100 TB, where the un-split hot reducer would own terabytes. One
caveat the demo encodes: an aggregation keyed on the JOIN key downstream
suppresses the split (splitting breaks the hash distribution the parent
reuses), so keep post-join aggs off the join key or accept the
straggler. Pinned by tests/test_plans.py::
test_aqe_skew_join_splits_hot_partition.
"""
    md = open(os.path.join(REPO, "SKEW.md")).read()
    marker = "\n## AQE skew-join"
    if marker in md:
        # replace ONLY the AQE section (up to the next heading or EOF) —
        # content added after it must survive a regeneration
        start = md.index(marker)
        nxt = md.find("\n## ", start + len(marker))
        tail = md[nxt:] if nxt != -1 else "\n"
        md = md[:start].rstrip() + "\n" + section + tail.lstrip("\n")
    else:
        md = md.rstrip() + "\n" + section
    open(os.path.join(REPO, "SKEW.md"), "w").write(md)
    print("SKEW.md updated")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
