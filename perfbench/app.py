"""The benchmark's Spark application; ``run.py`` launches it with

    spark-submit --master local[N] --py-files ocr_spark.zip,job.py,perfbench/spans.py \\
        perfbench/app.py --workload W --input P --work D --seconds S --trace 0|1 --result R

It sets up the session the engine's way (``session.get_spark`` then
``pipeline.warmup_python_workers``), runs one untimed iteration, then times
iterations in a closed loop within a ``--seconds`` window (at least one). Extract workloads
run the full ``job.py --assemble``; ``transcript-ops`` runs four transcript
operators and collects their outputs. With ``--trace 1`` it times one
untraced and one traced iteration, then the per-layer probes, each inside a
span and a Spark job group of the same name. The result goes to ``--result``
as JSON; ``run.py`` checks outputs and adds the event-log and RSS numbers.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import sys
import time
import traceback

import numpy as np
import pandas as pd

from spans import Tracer, self_times

OPS = ("sft_manifest", "conversation_clusters", "context_cost", "merge_role_runs")
#: Logical parts for every extraction pass (``job.py --num-parts``). Each part
#: is one Python task with a fixed cost of ~180 ms on a 4-core host, so the
#: default 256 would make one ~13k-turn job take ~20 s and not fit the
#: benchmark's run budget; 64 still leaves partitions empty after the second
#: hash of part_id, and keeps the per-task cost visible.
NUM_PARTS = 64
#: Turns sampled for the single-threaded in-process kernel timing.
KERNEL_SAMPLE = 1500
#: Share of logical parts the resume probe commits before resuming.
RESUME_COMMITTED = 0.85
#: Tools with a parsing kernel; every other tool is plain-text pass-through.
KERNEL_TOOLS = ("grid", "html", "json")


class App:
    def __init__(self, args):
        self.args = args
        self.tracer = Tracer(bool(args.trace))
        self.out = os.path.join(args.work, "out")
        self.spark = None
        self.iters: list[float] = []
        self.metrics: dict[str, float] = {}
        self.info: dict = {"workload": args.workload}

    # -- helpers -----------------------------------------------------------

    def group(self, name: str):
        self.spark.sparkContext.setJobGroup(name, name)

    @contextlib.contextmanager
    def layer(self, name: str):
        """A span plus a Spark job group, so the event log can attribute
        the jobs the span launched."""
        self.group(name)
        with self.tracer.span(name) as s:
            yield s

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # -- session -----------------------------------------------------------

    def setup(self) -> None:
        from ocr_spark import pipeline
        from ocr_spark.session import get_spark

        with self.tracer.span("session"):
            t0 = time.monotonic()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark(app="perfbench", master=f"local[{self.args.cores}]")
            self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.monotonic()
            with self.tracer.span("pipeline.warmup_python_workers"):
                pipeline.warmup_python_workers(self.spark)
            t2 = time.monotonic()
        self.info["session_ready_s"] = time.time() - float(os.environ["PERFBENCH_LAUNCH"])
        self.metrics["session.start_s"] = t1 - t0
        self.metrics["session.warmup_s"] = t2 - t1

    # -- extract workloads -------------------------------------------------

    def job_untraced(self) -> float:
        """One full ``job.py --assemble`` through its own entry point."""
        import job

        argv = ["--input", self.args.input, "--output", self.out, "--assemble", "--no-warmup",
                "--num-parts", str(NUM_PARTS)]
        buf = io.StringIO()
        self.group("untraced")
        t = time.monotonic()
        with contextlib.redirect_stdout(buf):
            job.main(argv)
        wall = time.monotonic() - t
        self.info["job_summary"] = json.loads(buf.getvalue().strip().splitlines()[-1])
        return wall

    def job_traced(self) -> float:
        """The steps of ``job.main`` for ``--assemble``, one span each."""
        import job
        from pyspark.sql import functions as F

        from ocr_spark import pipeline

        spark, out = self.spark, self.out
        t = time.monotonic()
        with self.layer("traced"):
            with self.tracer.span("pipeline.run_pipeline"):
                pipeline.run_pipeline(spark, self.args.input, out, num_parts=NUM_PARTS)
            with self.tracer.span("pipeline.read_lineage"):
                lineage = pipeline.read_lineage(spark, out)
                lin = lineage.agg(
                    F.count("*").alias("parts"),
                    F.sum("n_turns").alias("rows"),
                    F.countDistinct("duration_ms").alias("durations"),
                    F.min("duration_ms").alias("lo"),
                    F.max("duration_ms").alias("hi"),
                ).first()
                job.part_duration_hist(lineage, int(lin["lo"]), int(lin["hi"]))
            with self.tracer.span("pipeline.assemble_conversations"):
                apath = out + "_assembled"
                pipeline.assemble_conversations(pipeline.read_extracted(spark, out)).write.mode(
                    "overwrite"
                ).parquet(apath)
                assembled = spark.read.parquet(apath)
                n_spans = assembled.count()
                n_convs = assembled.select("conv_id").distinct().count()
        wall = time.monotonic() - t
        m = self.metrics
        m["lineage.rows"] = lin["parts"]
        m["lineage.read_s"] = self.tracer.seconds("pipeline.read_lineage")
        m["lineage.distinct_durations"] = lin["durations"] / max(1, lin["parts"])
        m["assemble.s"] = self.tracer.seconds("pipeline.assemble_conversations")
        m["assemble.spans"] = n_spans
        m["assemble.convs"] = n_convs
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(out)
            for f in fs
            if f.endswith(".parquet")
        ]
        m["write.files"] = len(files)
        m["write.bytes_out"] = sum(os.path.getsize(f) for f in files)
        return wall

    def probes(self) -> None:
        """Cumulative noop-sink probes of the extraction plan, so each
        layer's self time is the difference between adjacent probes."""
        from pyspark.sql import functions as F

        from ocr_spark import pipeline

        spark, P, m = self.spark, NUM_PARTS, self.metrics
        cols = ("part_id", "conv_id", "turn_idx", "text", "tool")
        df = pipeline.read_transcripts(spark, self.args.input)
        with self.layer("probe.scan"):
            self.noop(df.select(*cols[1:]))
        salted = pipeline.with_part_id(df, P).select(*cols).repartition(P, "part_id")
        with self.layer("probe.salt"):
            self.noop(salted)
        batches = spark.sparkContext.accumulator(0)

        def identity(it):
            for b in it:
                batches.add(1)
                yield b

        with self.layer("probe.arrow"):
            self.noop(salted.mapInArrow(identity, salted.schema))
        with self.layer("probe.extract"):
            self.noop(pipeline.extract_stage(df, P))

        self.group("probe.salt_stats")
        sizes = [
            r["n"]
            for r in salted.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        m["salt.logical_parts"] = salted.select("part_id").distinct().count()
        m["salt.physical_partitions"] = P
        m["salt.empty_partitions"] = P - len(sizes)
        m["salt.max_over_median_turns"] = max(sizes) / float(np.median(sizes))

        scan = self.tracer.seconds("probe.scan")
        salt = self.tracer.seconds("probe.salt")
        arrow = self.tracer.seconds("probe.arrow")
        extract = self.tracer.seconds("probe.extract")
        m["scan.s"] = scan
        m["salt.s"] = salt - scan
        m["arrow.s"] = arrow - salt
        m["arrow.tasks"] = P
        m["arrow.batches"] = batches.value
        m["arrow.ms_per_task"] = 1000 * (arrow - salt) * self.args.cores / P
        m["extract.s"] = extract - arrow
        m["write.s"] = self.tracer.seconds("pipeline.run_pipeline") - extract

    def kernels(self, inp: pd.DataFrame) -> None:
        """extract_turn single-threaded in-process on a seeded sample."""
        from ocr_spark.kernels.extract import extract_turn
        from ocr_spark.pipeline import turn_checksums

        rng = np.random.default_rng([self.args.seed, 5])
        idx = rng.choice(len(inp), size=min(KERNEL_SAMPLE, len(inp)), replace=False)
        spent = {k: 0.0 for k in ("grid", "html", "json", "text")}
        count = dict.fromkeys(spent, 0)
        errors = retries = 0
        with self.tracer.span("kernels.extract.extract_turn"):
            for text, tool in zip(inp["text"].values[idx], inp["tool"].values[idx]):
                k = tool if tool in KERNEL_TOOLS else "text"
                t = time.perf_counter()
                rec = extract_turn(text, tool)
                spent[k] += time.perf_counter() - t
                count[k] += 1
                errors += rec["status"] == "error"
                retries += rec.get("retries", 0)
        m = self.metrics
        for k in spent:
            m[f"kernels.{k}.turns"] = count[k]
            m[f"kernels.{k}.us_per_turn"] = 1e6 * spent[k] / count[k] if count[k] else 0.0
        m["kernels.error_turns"] = errors
        m["kernels.retries"] = retries
        with self.tracer.span("pipeline.turn_checksums"):
            t = time.perf_counter()
            turn_checksums(inp["conv_id"], inp["turn_idx"], inp["text"])
            m["lineage.checksum_us_per_turn"] = 1e6 * (time.perf_counter() - t) / len(inp)

    def table_resume(self) -> None:
        """Snapshot-table commit of most logical parts, then --resume."""
        from pyspark.sql import functions as F

        from ocr_spark import pipeline, table

        spark, m = self.spark, self.metrics
        root = os.path.join(self.args.work, "table")
        P = NUM_PARTS
        rng = np.random.default_rng([self.args.seed, 9])
        committed = sorted(rng.choice(P, size=int(P * RESUME_COMMITTED), replace=False).tolist())
        commit = table.commit_append

        def traced_commit(*a, **kw):
            with self.tracer.span("table.commit_append"):
                return commit(*a, **kw)

        table.commit_append = traced_commit
        try:
            with self.layer("table.build"):
                pipeline.run_pipeline_snapshots(
                    spark, self.args.input, root, num_parts=P, only_parts=committed
                )
            m["table.commit_s"] = self.tracer.seconds("table.commit_append")
            with self.layer("table.read"):
                before = pipeline.read_lineage_table(spark, root).select("part_id").collect()
            m["table.read_s"] = self.tracer.seconds("table.read")
            base_snap = table.current_snapshot_id(root)
            with self.layer("resume"):
                pipeline.run_pipeline_snapshots(spark, self.args.input, root, num_parts=P, resume=True)
        finally:
            table.commit_append = commit
        m["table.snapshot_files"] = len(table.read_snapshot(root)["files"])
        done = {r["part_id"] for r in before}
        # the resume's own rows: files its snapshot added to the parent's
        old = {f["path"] for f in table.read_snapshot(root, base_snap)["files"]}
        added = [f["path"] for f in table.read_snapshot(root)["files"] if f["path"] not in old]
        new = (
            spark.read.parquet(*added)
            .filter(F.col("rec") == "lineage")
            .select(F.from_json("extracted_text", pipeline.LINEAGE_JSON_SCHEMA).alias("l"))
            .select("l.part_id", "l.n_turns")
            .collect()
            if added
            else []
        )
        redo = [r for r in new if r["part_id"] in done]
        m["resume.parts_skipped"] = len(done)
        m["resume.parts_run"] = len(new)
        m["resume.rows_scanned"] = sum(r["n_turns"] for r in new)
        m["resume.redo_turns"] = sum(r["n_turns"] for r in redo)
        data = pipeline.read_extracted_table(spark, root)
        dup = data.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count()
        self.info["resume_check"] = {"rows": data.count(), "dup_keys": dup}

    # -- transcript-ops ----------------------------------------------------

    def ops_frame(self):
        from ocr_spark import pipeline

        return pipeline.read_transcripts(self.spark, self.args.input).select(
            "conv_id", "turn_idx", "role", "text"
        )

    def op(self, name: str):
        from ocr_spark.operators import transcript

        return getattr(transcript, name)(self.ops_frame())

    def ops_iteration(self, prefix: str) -> float:
        """All four operators over the input. Each output is collected
        (Arrow ``toPandas``), which is both the sink and what the untimed
        checks read, so the operators never run twice."""
        outputs = {}
        t = time.monotonic()
        for name in OPS:
            with self.layer(f"{prefix}ops.{name}"):
                outputs[name] = self.op(name).toPandas()
        wall = time.monotonic() - t
        self.ops_check(outputs)
        return wall

    def ops_check(self, outputs: dict[str, pd.DataFrame]) -> None:
        """Row counts, an order-insensitive digest per operator, and the
        operators' invariants; a broken operator counts as one failure."""
        if "conv_ids" not in self.info:
            self.info["conv_ids"] = int(pd.read_parquet(self.args.input, columns=["conv_id"])["conv_id"].nunique())
        broken = self.info.setdefault("ops_broken", [])
        digests = self.info.setdefault("ops_digest", {})
        for name, pdf in outputs.items():
            self.metrics[f"ops.{name}.rows_out"] = len(pdf)
            lines = sorted(json.dumps(r, sort_keys=True, default=str) for r in pdf.to_dict("records"))
            digests[name] = hashlib.sha256("\n".join(lines).encode()).hexdigest()
        clusters = outputs["conversation_clusters"]
        keepers = clusters.groupby("cluster_id")["is_keeper"].sum()
        if clusters["conv_id"].nunique() != len(clusters) or len(clusters) != self.info["conv_ids"] or (keepers != 1).any():
            broken.append("conversation_clusters")
        self.info["clusters_multi"] = int((clusters.groupby("cluster_id").size() > 1).sum())
        sft = outputs["sft_manifest"].sort_values(["shard", "conv_id"])
        offsets = sft.groupby("shard")["n_tokens"].cumsum() - sft["n_tokens"]
        if len(sft) == 0 or not (offsets.to_numpy() == sft["start_off"].to_numpy()).all():
            broken.append("sft_manifest")

    # -- run loop ----------------------------------------------------------

    def iteration(self) -> float:
        if self.args.workload == "transcript-ops":
            return self.ops_iteration("untraced.")
        return self.job_untraced()

    def run(self) -> None:
        a = self.args
        self.setup()
        self.info["turns"] = turns = int(self.spark.read.parquet(a.input).count())
        # The first iteration of a fresh JVM runs 1.5-2x slower than later
        # ones and swings widely (class loading, JIT); a one-off run pays it,
        # so it is set-up time, and only later iterations are timed.
        self.info["first_iter_s"] = self.iteration()
        self.info["setup_s"] = time.time() - float(os.environ["PERFBENCH_LAUNCH"])
        deadline = time.monotonic() + a.seconds
        if not a.trace:
            while True:
                self.iters.append(self.iteration())
                # Start another iteration only if it should end inside the
                # window. Later iterations still run faster than the first
                # timed one, so letting the last one overrun would time one
                # iteration on a slow host and two on a fast one, and the
                # median would jump between the two cases.
                if time.monotonic() + self.iters[-1] > deadline:
                    break
        else:
            self.iters.append(self.iteration())
            self.traced(turns)
        self.info["turns_per_s"] = [turns / w for w in self.iters]

    def traced(self, turns: int) -> None:
        a, m = self.args, self.metrics
        if a.workload == "transcript-ops":
            wall = self.ops_iteration("")
            for name in OPS:
                m[f"ops.{name}.s"] = self.tracer.seconds(f"ops.{name}")
            layer_s = sum(m[f"ops.{name}.s"] for name in OPS)
            # the snapshot-table and resume layers run on the plain-text
            # workloads' inputs; here they add ~10 s to the traced run only
            self.table_resume()
        else:
            wall = self.job_traced()
            inp = pd.read_parquet(a.input, columns=["conv_id", "turn_idx", "text", "tool"])
            self.kernels(inp)
            self.probes()
            if a.workload == "plain-skew":
                self.table_resume()
            layer_s = sum(
                m[k]
                for k in ("scan.s", "salt.s", "arrow.s", "extract.s", "write.s",
                          "lineage.read_s", "assemble.s")
            )
        self.info["traced_wall_s"] = wall
        self.info["untraced_wall_s"] = self.iters[-1]
        self.info["layer_self_s"] = layer_s
        m["trace.overhead_frac"] = (wall - self.iters[-1]) / self.iters[-1]
        m["trace.traced_turns_per_s"] = turns / wall


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--input", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--cores", type=int, required=True)
    p.add_argument("--result", required=True)
    app = App(p.parse_args())
    error = None
    try:
        app.run()
    except Exception:
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    selfs = self_times(app.tracer.spans)
    for s in app.tracer.spans:
        s["self"] = selfs[s["id"]]
    with open(app.args.result, "w") as f:
        json.dump(
            {
                "error": error,
                "iters_s": app.iters,
                "metrics": app.metrics,
                "info": app.info,
                "spans": app.tracer.spans,
            },
            f,
        )
    if app.spark is not None:
        app.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
