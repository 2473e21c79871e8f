"""Skew demonstration: salted vs unsalted partitioning on a skewed corpus.

Generates a corpus where ONE conversation holds ~1/3 of all turns (the
long-conversation skew the north_rule names), then runs the identical
extraction stage twice at the same parallelism:

- **unsalted**: part_id = hash(conv_id) only (turn_bucket = ∞) — the whole
  hot conversation lands in one task; the stage's wall clock is that one
  straggler.
- **salted** (the engine default): part_id = hash(conv_id, turn_idx/64) —
  the hot conversation spreads across ~turns/64 parts.

Writes SKEW.md with wall times, the partition-size distribution (max/median
rows per task), and the speedup. Spark runs on every CPU this process may
use. Usage: python scripts/skew_demo.py [--turns 600000]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the hot conversation is generated as this many turn ranges, one per
#: generation task
HOT_RANGES = 64


def skew_plan(n_turns: int):
    """Turn-range plan of the skew corpus, one row per (conv_id, payload
    seed, conv index, first turn, end turn, global offset): ~n_turns/22.5
    base conversations of 5..40 turns (the fixtures' defaults), then
    ``conv_hot`` with half as many turns as the base — a third of the
    final table — cut into HOT_RANGES ranges."""
    import numpy as np
    import pandas as pd

    n_convs = max(1, int(n_turns / 22.5))
    counts = np.random.default_rng([42, 0]).integers(5, 41, n_convs)
    hot = np.linspace(0, counts.sum() // 2, HOT_RANGES + 1, dtype=np.int64)
    zeros = np.zeros(HOT_RANGES, dtype=np.int64)
    return pd.DataFrame(
        {
            "conv_id": [f"conv_{i:06d}" for i in range(n_convs)]
            + ["conv_hot"] * HOT_RANGES,
            "seed": np.r_[np.full(n_convs, 42), zeros + 99],
            "conv_i": np.r_[np.arange(n_convs), zeros],
            "lo": np.r_[np.zeros(n_convs, dtype=np.int64), hot[:-1]],
            "hi": np.r_[counts, hot[1:]],
            "g_off": np.r_[np.cumsum(counts) - counts, zeros],
        }
    )


def gen_turns(batches):
    """Expand plan rows into transcript rows with the fixtures'
    per-(seed, conv, turn) payload substreams, so the table does not
    depend on how the plan is partitioned. Global turn g = g_off + t
    sets role ``_ROLES[g % 3]`` and ts ``epoch + 60·g`` seconds."""
    import datetime as dt

    import pandas as pd

    from ocr_spark.fixtures import _ROLES, turn_payload

    epoch = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    for pdf in batches:
        rows = []
        plan = zip(*(pdf[c].tolist() for c in pdf.columns))
        for cid, seed, conv_i, lo, hi, g_off in plan:
            for t in range(lo, hi):
                tool, text = turn_payload(seed, conv_i, t)
                g = g_off + t
                rows.append(
                    (
                        cid,
                        t,
                        _ROLES[g % 3],
                        text,
                        tool,
                        epoch + dt.timedelta(seconds=60 * g),
                    )
                )
        yield pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--turns", type=int, default=600_000)
    p.add_argument("--num-parts", type=int, default=64)
    args = p.parse_args(argv)

    from ocr_spark.pipeline import extract_stage, with_part_id
    from ocr_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app="skew-demo", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    skew_path = os.path.join(REPO, ".bench", f"skew_{args.turns}.parquet")
    if not os.path.exists(os.path.join(skew_path, "_SUCCESS")):
        spark.createDataFrame(skew_plan(args.turns)).repartition(
            HOT_RANGES
        ).mapInPandas(
            gen_turns,
            "conv_id string, turn_idx int, role string, text string,"
            " tool string, ts timestamp",
        ).write.mode("overwrite").parquet(skew_path)
    df = spark.read.parquet(skew_path)
    total = df.count()

    results = {}
    for label, bucket in [("unsalted", 1 << 40), ("salted", 64)]:
        parted = with_part_id(df, args.num_parts, bucket)
        sizes = (
            parted.groupBy("part_id").count().toPandas()["count"].describe()
        )
        t0 = time.monotonic()
        extract_stage(df, args.num_parts, bucket).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = time.monotonic() - t0
        results[label] = {
            "wall": wall,
            "max_part": int(sizes["max"]),
            "median_part": int(sizes["50%"]),
        }
        print(f"{label}: {wall:.1f}s  max part {int(sizes['max'])} rows,"
              f" median {int(sizes['50%'])}", flush=True)

    speedup = results["unsalted"]["wall"] / results["salted"]["wall"]
    u, s = results["unsalted"], results["salted"]
    with open(os.path.join(REPO, "SKEW.md"), "w") as f:
        f.write(
            "# SKEW — salted repartition vs naive conv_id partitioning\n\n"
            "Same extraction stage, same skewed corpus (one conversation = "
            "1/3 of all turns), same parallelism "
            f"(local[{cpus}], {args.num_parts} parts, {total} turns). "
            "Regenerate: `python scripts/skew_demo.py`.\n\n"
            "| partitioning | stage wall | max part rows | median part rows |\n"
            "|---|---|---|---|\n"
            f"| unsalted `hash(conv_id)` | {u['wall']:.1f}s | {u['max_part']}"
            f" | {u['median_part']} |\n"
            f"| salted `hash(conv_id, turn_idx/64)` (engine default) |"
            f" {s['wall']:.1f}s | {s['max_part']} | {s['median_part']} |\n\n"
            f"**Speedup {speedup:.2f}×** — unsalted, the hot conversation is "
            "one straggler task owning a third of all work; salted, its turns "
            "spread across ~turns/64 logical parts and the stage ends with "
            "the fleet, not the straggler. Output is identical either way "
            "(ordering comes from sort keys, not co-location — "
            "tests/test_pipeline.py::test_salting_splits_long_conversations).\n"
        )
    print(f"speedup {speedup:.2f}x -> SKEW.md", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
