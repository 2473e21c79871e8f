"""Host-aware benchmark of the ocr_spark extraction engine.

Run from the repository root:

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 20 --trace 0

Workloads: ``mixed`` and ``plain-skew`` run the full ``job.py --assemble``;
``transcript-ops`` runs four transcript operators. Inputs
are generated from ``--seed`` in this process (cached under ``.perfbench/``),
then ``app.py`` runs under ``spark-submit --py-files`` at ``local[N]``, pinned
with ``taskset`` to the N cores this process may use. The outputs are checked
against ``ocr_spark.oracle`` and the operators' invariants.

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` gives the
per-layer metrics from spans, probes and the Spark event log. ``--scaling``
runs the workload once per core level in ``--levels`` (default ``1,N``) and
reports ``scaling_eff``; a level above the owned cores gets a ``status`` and
no number. Stdout ends with one JSON line; per-run values, per-layer metrics
and spans go to the side file the line before it names.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
PAGE = os.sysconf("SC_PAGE_SIZE")
WORK = ".perfbench"
#: Wall budget of one run; the app is killed after it.
DEADLINE_S = 170.0

END_TO_END = {"turns_per_s": "turns/s", "setup_s": "s", "peak_rss_mb": "MB"}
_OPS = ("sft_manifest", "conversation_clusters", "context_cost", "merge_role_runs")
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "scan.s": "s",
    "scan.bytes_in": "bytes",
    "salt.s": "s",
    "salt.logical_parts": "count",
    "salt.physical_partitions": "count",
    "salt.empty_partitions": "count",
    "salt.max_over_median_turns": "ratio",
    "arrow.s": "s",
    "arrow.tasks": "count",
    "arrow.batches": "count",
    "arrow.ms_per_task": "ms",
    **{f"kernels.{k}.us_per_turn": "us" for k in ("grid", "html", "json", "text")},
    **{f"kernels.{k}.turns": "count" for k in ("grid", "html", "json", "text")},
    "kernels.error_turns": "count",
    "kernels.retries": "count",
    "extract.s": "s",
    "lineage.checksum_us_per_turn": "us",
    "lineage.rows": "count",
    "lineage.read_s": "s",
    "lineage.distinct_durations": "ratio",
    "write.s": "s",
    "write.files": "count",
    "write.bytes_out": "bytes",
    "table.commit_s": "s",
    "table.read_s": "s",
    "table.snapshot_files": "count",
    "resume.parts_skipped": "count",
    "resume.parts_run": "count",
    "resume.rows_scanned": "count",
    "resume.redo_turns": "count",
    "assemble.s": "s",
    "assemble.convs": "count",
    "assemble.spans": "count",
    **{f"ops.{op}.{k}": u for op in _OPS for k, u in (("s", "s"), ("jobs", "count"), ("rows_out", "count"))},
    "spark.task_busy_s": "s",
    "spark.core_util": "ratio",
    "spark.sched_delay_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.failed_tasks": "count",
    "trace.overhead_frac": "ratio",
    "trace.traced_turns_per_s": "turns/s",
}
#: The per-layer metrics a traced run prints (and BENCHMARK.json lists): the
#: ones an optimisation is most likely to move, few enough that the line
#: stays under 2,000 characters. The side file holds all of PER_LAYER.
LINE_LAYER = (
    "session.start_s",
    "session.warmup_s",
    "scan.s",
    "salt.s",
    "salt.empty_partitions",
    "arrow.s",
    "arrow.ms_per_task",
    "kernels.grid.us_per_turn",
    "kernels.html.us_per_turn",
    "kernels.json.us_per_turn",
    "kernels.text.us_per_turn",
    "extract.s",
    "lineage.checksum_us_per_turn",
    "lineage.distinct_durations",
    "write.s",
    "write.files",
    "table.commit_s",
    "resume.redo_turns",
    "assemble.s",
    "ops.conversation_clusters.s",
    "ops.conversation_clusters.jobs",
    "ops.merge_role_runs.s",
    "ops.sft_manifest.s",
    "spark.task_busy_s",
    "spark.core_util",
    "spark.sched_delay_s",
    "trace.overhead_frac",
)


# -- host ------------------------------------------------------------------


def owned_cpus() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def core_levels(levels: list[int], owned: list[int]) -> list[dict]:
    """One entry per requested level: the cpus to pin it to, or a status
    when the level exceeds the cores this process owns."""
    out = []
    for k in levels:
        if 1 <= k <= len(owned):
            out.append({"cores": k, "cpus": owned[:k]})
        else:
            out.append({"cores": k, "status": f"unavailable: {k} cores requested, {len(owned)} owned"})
    return out


def driver_memory(total_bytes: int | None = None) -> str:
    """A quarter of host memory, between 1 and 8 GiB (local mode: the
    driver JVM also hosts the executors)."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(8, total_bytes // 4 // 2**30))}g"


def git_sha(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None  # an exported checkout; code_digest identifies the code
    try:
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def code_digest(root: str) -> str:
    """sha256 of the program's sources (the checkout may not be a git repo)."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "job.py")]
    for d, dirs, files in os.walk(os.path.join(root, "ocr_spark")):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build_zip(root: str, dest: str) -> str:
    path = os.path.join(dest, "ocr_spark.zip")
    with zipfile.ZipFile(path, "w") as z:
        for d, dirs, files in os.walk(os.path.join(root, "ocr_spark")):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, root))
    return path


# -- process tree ----------------------------------------------------------


def _tree(root_pid: int) -> list[tuple[int, int]]:
    """(pid, parent pid) for ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [(root_pid, 0)]
    while todo:
        pid, ppid = todo.pop()
        out.append((pid, ppid))
        todo += [(c, pid) for c in children.get(pid, [])]
    return out


def _rss(pid: int) -> tuple[str, int] | None:
    """(command name, RSS bytes) if ``pid`` is the JVM or a Python process.

    Other processes in the tree are short-lived helpers the JVM forks (a
    forked child maps the JVM's pages until it execs, which would count the
    JVM twice)."""
    exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    with open(f"/proc/{pid}/comm") as f:
        comm = f.read().strip()
    if not (exe.startswith("python") or (exe == "java" and comm == "java")):
        return None
    with open(f"/proc/{pid}/statm") as f:
        return comm, int(f.read().split()[1]) * PAGE


class RssSampler(threading.Thread):
    """Peak summed RSS of the JVM and its Python processes, from /proc."""

    def __init__(self, pid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.peak = 0
        self.peak_by_comm: dict[str, int] = {}
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.is_set():
            by_comm: dict[str, int] = {}
            for pid, _ in _tree(self.pid):
                try:
                    got = _rss(pid)
                except (OSError, IndexError, ValueError):
                    continue
                if got:
                    by_comm[got[0]] = by_comm.get(got[0], 0) + got[1]
            total = sum(by_comm.values())
            if total > self.peak:
                self.peak, self.peak_by_comm = total, by_comm
            self.done.wait(self.period)


def _stop(proc: subprocess.Popen) -> None:
    """Kill every process under ``proc`` (the Python worker daemon runs in
    its own process group) and wait for ``proc`` to end."""
    for pid, _ in reversed(_tree(proc.pid)):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def host_calib_s() -> float:
    """Seconds for a fixed pure-Python loop: the host's speed at launch, to
    tell host drift from a change in the program when reading the side file."""
    t = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t


def steal_jiffies() -> int:
    """Host-wide CPU steal time so far (a busy neighbouring VM shows here)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


# -- one spark-submit ------------------------------------------------------


def launch(args, level: dict, meta: dict, run_dir: str, zip_path: str, budget: float) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    events = os.path.join(run_dir, "events")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, events, local):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    k = level["cores"]
    mem = driver_memory()
    # -Xms = max heap: the collector's heap sizing otherwise differs from one
    # launch to the next and moves both the run time and the RSS
    java_opts = f"-Xms{mem} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.eventLog.enabled": "true" if args.trace else "false",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
    }
    cmd = ["taskset", "-c", ",".join(map(str, level["cpus"])), "spark-submit"]
    cmd += ["--master", f"local[{k}]", "--driver-memory", mem]
    for key, v in conf.items():
        cmd += ["--conf", f"{key}={v}"]
    cmd += ["--py-files", ",".join([zip_path, os.path.abspath("job.py"), os.path.join(HERE, "spans.py")])]
    cmd += [os.path.join(HERE, "app.py"), "--workload", args.workload, "--input", meta["path"]]
    cmd += ["--work", run_dir, "--seconds", str(args.seconds), "--trace", str(args.trace)]
    cmd += ["--seed", str(args.seed), "--cores", str(k), "--result", result_path]
    env = dict(
        os.environ,
        TMPDIR=tmp,
        OCR_SPARK_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        PYTHONDONTWRITEBYTECODE="1",
        PERFBENCH_LAUNCH=repr(time.time()),
    )
    calib = host_calib_s()
    steal0 = steal_jiffies()
    with open(os.path.join(run_dir, "spark.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        timed_out = False
        try:
            proc.wait(timeout=max(1.0, budget))
        except subprocess.TimeoutExpired:
            timed_out = True
        finally:  # also on SIGTERM / Ctrl-C: leave no Spark process behind
            _stop(proc)
            sampler.done.set()
            sampler.join()
    res = {"error": None, "iters_s": [], "metrics": {}, "info": {}, "spans": []}
    if os.path.exists(result_path):
        with open(result_path) as f:
            res = json.load(f)
    if timed_out:
        res["error"] = f"timed out after {budget:.0f} s"
    elif not os.path.exists(result_path):
        res["error"] = f"spark-submit exited {proc.returncode} without a result"
    res["host_calib_s"] = calib
    res["steal_s"] = (steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK")
    res["peak_rss_mb"] = sampler.peak / 2**20
    res["peak_rss_mb_by_process"] = {k: v / 2**20 for k, v in sampler.peak_by_comm.items()}
    if args.trace and os.listdir(events):
        from eventlog import group_metrics

        res["groups"] = group_metrics(events)
    return res


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- metrics ---------------------------------------------------------------


def high_percentile(values: list[float]) -> dict | None:
    """The highest of p50/p90/p99/p99.9 with at least ten samples beyond it."""
    best = None
    for p in (50, 90, 99, 99.9):
        if len(values) * (1 - p / 100) >= 10:
            best = {"p": p, "value": statistics.quantiles(values, n=1000)[int(p * 10) - 1]}
    return best


def layer_metrics(res: dict, cores: int, meta: dict) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({k: v for k, v in res["metrics"].items() if k in m})
    groups = res.get("groups", {})
    for op in _OPS:
        m[f"ops.{op}.jobs"] = groups.get(f"ops.{op}", {}).get("jobs", 0)
    # the parquet reader's own bytes-read counter undercounts small files
    m["scan.bytes_in"] = meta["bytes"] if "scan.s" in res["metrics"] else 0
    traced = [g for name, g in groups.items() if name == "traced" or name.startswith("ops.")]
    wall = res["info"].get("traced_wall_s") or 0.0

    def total(key):
        return sum(g[key] for g in traced)

    m["spark.task_busy_s"] = total("task_busy_s")
    m["spark.core_util"] = total("task_busy_s") / (wall * cores) if wall else 0.0
    m["spark.sched_delay_s"] = total("sched_delay_s")
    m["spark.gc_s"] = total("gc_s")
    m["spark.spill_bytes"] = total("spill_bytes")
    m["spark.shuffle_write_bytes"] = total("shuffle_write_bytes")
    m["spark.failed_tasks"] = total("failed_tasks")
    return m


def verify(args, res: dict, meta: dict, run_dir: str) -> dict:
    """attempted / failed for the run, with the details behind them."""
    info = res["info"]
    if args.workload == "transcript-ops":
        # operator outputs are checked on every iteration, the untimed first one too
        attempted = len(_OPS) * (len(res["iters_s"]) + 1 + args.trace)
        broken = info.get("ops_broken")
        if res["error"] or broken is None:
            return {"attempted": max(1, attempted), "failed": max(1, attempted)}
        return {"attempted": attempted, "failed": len(broken), "broken": broken}
    if res["error"]:
        return {"attempted": meta["turns"], "failed": meta["turns"]}
    import pandas as pd

    from checks import check_extract

    inp = pd.read_parquet(meta["path"], columns=["conv_id", "turn_idx", "text", "tool"])
    out = check_extract(inp, os.path.join(run_dir, "out"), args.seed)
    rc = info.get("resume_check")
    if rc is not None:
        out["resume_bad"] = abs(rc["rows"] - meta["turns"]) + rc["dup_keys"]
        out["failed"] += out["resume_bad"]
    return out


def line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        },
        separators=(",", ":"),
    )


# -- main ------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    t_start = time.monotonic()
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=None, help="base conversations (default per workload)")
    p.add_argument("--scaling", action="store_true", help="measure scaling_eff over --levels")
    p.add_argument("--levels", default=None, help="comma-separated core levels (default 1,N)")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "ocr_spark", "__init__.py")) and os.path.isfile("job.py")):
        print("perfbench: run from the repository root (ocr_spark/ and job.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    from gen import DEFAULT_SIZE, ensure_input

    if args.workload not in DEFAULT_SIZE:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(DEFAULT_SIZE)}", file=sys.stderr)
        return 2
    if args.scaling and args.trace:
        p.error("--scaling measures untraced runs; use --trace 0")

    work = os.path.abspath(WORK)
    size = args.size or DEFAULT_SIZE[args.workload]
    meta = ensure_input(work, args.workload, args.seed, size)
    build = os.path.join(work, "build")
    os.makedirs(build, exist_ok=True)
    zip_path = build_zip(root, build)
    owned = owned_cpus()
    levels = [int(x) for x in args.levels.split(",")] if args.levels else [len(owned)]
    if args.scaling and not args.levels:
        levels = [1, len(owned)]

    runs = []
    for level in core_levels(levels, owned):
        if "status" in level:
            runs.append(level)
            continue
        run_dir = fresh_dir(os.path.join(work, "run", args.workload))
        budget = DEADLINE_S - (time.monotonic() - t_start) if not args.scaling else 600.0
        res = launch(args, level, meta, run_dir, zip_path, budget)
        res["check"] = verify(args, res, meta, run_dir)
        tps = res["info"].get("turns_per_s") or []
        res["level"] = level
        res["turns_per_s"] = statistics.median(tps) if tps else None
        res["turns_per_s_high"] = high_percentile(tps)
        runs.append(res)

    measured = [r for r in runs if "status" not in r]
    attempted = sum(r["check"]["attempted"] for r in measured) or 1
    failed = sum(r["check"]["failed"] for r in measured)
    errors = [r["error"] for r in measured if r["error"]]
    correct = bool(measured) and not errors and failed == 0

    if args.scaling:
        by = {r["level"]["cores"]: r["turns_per_s"] for r in measured if r["turns_per_s"]}
        lo, hi = min(levels), max(levels)
        metrics, units = {}, {"scaling_eff": "ratio"}
        if lo in by and hi in by and hi > lo:
            metrics["scaling_eff"] = by[hi] / ((hi / lo) * by[lo])
        status = [r["status"] for r in runs if "status" in r]
    else:
        r = measured[0] if measured else {"info": {}, "metrics": {}, "peak_rss_mb": 0.0, "turns_per_s": None}
        status = [x["status"] for x in runs if "status" in x]
        if args.trace:
            metrics, units = layer_metrics(r, levels[0], meta), PER_LAYER
        else:
            metrics = {
                "turns_per_s": r["turns_per_s"],
                "setup_s": r["info"].get("setup_s"),
                "peak_rss_mb": r["peak_rss_mb"],
            }
            metrics, units = {k: v for k, v in metrics.items() if v is not None}, END_TO_END

    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    tag = "scaling" if args.scaling else f"trace{args.trace}"
    side = os.path.join(results, f"{args.workload}-s{args.seed}-{tag}.json")
    head = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": len(owned),
        "cpus": owned,
        "driver_memory": driver_memory(),
        "input_turns": meta["turns"],
        "input_bytes": meta["bytes"],
        "input_digest": meta["digest"],
        "git_sha": git_sha(root),
        "code_digest": code_digest(root),
        "status": status,
        "errors": [e.strip().splitlines()[-1] for e in errors],
        "side_file": os.path.relpath(side, root),
    }
    with open(side, "w") as f:
        json.dump({**head, "input": meta, "metrics": metrics, "runs": runs}, f, indent=1, default=str)
    if args.trace:
        metrics = {k: metrics[k] for k in LINE_LAYER}
    print(json.dumps(head, separators=(",", ":")))
    print(line(correct, attempted, failed, metrics, units))
    return 0 if measured and not errors else 1


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
    signal.signal(signal.SIGTERM, _terminate)
    sys.exit(main())
