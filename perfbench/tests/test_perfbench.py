"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The last test runs one small traced benchmark through spark-submit (~1-2 min).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
HERE = os.path.join(ROOT, "perfbench")
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402
from eventlog import group_metrics  # noqa: E402
from spans import Tracer, self_times  # noqa: E402


def _bench(*argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *argv],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_digest_however_chunked(workload):
    digests = {gen.input_digest(workload, 7, 24, chunk) for chunk in (1, 5, 24)}
    assert len(digests) == 1
    assert gen.input_digest(workload, 8, 24) not in digests


def test_plain_skew_long_conversations_present():
    size = 60
    rows = [t for t in gen.chunks("plain-skew", 3, size)]
    convs = {}
    tools = []
    for table in rows:
        for c in table.column("conv_id").to_pylist():
            convs[c] = convs.get(c, 0) + 1
        tools += table.column("tool").to_pylist()
    long = [c for c, n in convs.items() if n >= gen.LONG_CONV_TURNS[0]]
    assert len(long) == len(gen.LONG_CONV_AT)
    assert tools.count("null") / len(tools) >= 0.95


def test_transcript_ops_families_are_seed_free():
    def families(seed):
        convs = gen.conversations("transcript-ops", seed, 80, 0, 80)
        by_base = {}
        for c, i, turns in convs:
            by_base.setdefault(i, []).append((c, turns))
        return {i: fam for i, fam in by_base.items() if len(fam) > 1}

    fams = families(3)
    assert fams and any(len(f) > 2 for f in fams.values())  # bases with several copies
    assert families(4) == fams  # the text LSH hashes does not move with the seed
    assert gen.input_digest("transcript-ops", 3, 80) != gen.input_digest("transcript-ops", 4, 80)


def test_result_lines_parse_and_fit():
    e2e = {k: 12345.678901234567 for k in run.END_TO_END}
    layer = {k: 12345.678901234567 for k in run.LINE_LAYER}
    for metrics, units in ((e2e, run.END_TO_END), (layer, run.PER_LAYER)):
        s = run.line(True, 10**9, 0, metrics, units)
        assert len(s) <= 2000
        obj = json.loads(s)
        assert set(obj) == {"correct", "attempted", "failed", "metrics"}
        assert set(obj["metrics"]) == set(metrics)


def test_benchmark_json_matches_what_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in bench["per_layer"]] == list(run.LINE_LAYER)
    assert all(m["unit"] == run.PER_LAYER[m["name"]] for m in bench["per_layer"])
    assert {w["name"] for w in bench["workloads"]} <= set(gen.WORKLOADS)


def test_core_levels_above_owned_get_status():
    levels = run.core_levels([1, 4, 16], [0, 1, 2, 3])
    assert levels[0] == {"cores": 1, "cpus": [0]}
    assert levels[1]["cpus"] == [0, 1, 2, 3]
    assert "status" in levels[2] and "cpus" not in levels[2]


def test_impossible_level_yields_status_and_no_number():
    n = len(os.sched_getaffinity(0))
    r = _bench("--workload", "mixed", "--seed", "1", "--seconds", "1", "--size", "3",
               "--scaling", "--levels", f"{n + 1},{4 * n}")
    head, last = (json.loads(x) for x in r.stdout.strip().splitlines()[-2:])
    assert len(head["status"]) == 2
    assert last["metrics"] == {} and last["correct"] is False
    assert r.returncode != 0


def test_refuses_to_run_without_the_program(tmp_path):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "mixed", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode != 0 and r.stdout == ""


def test_self_time_subtracts_covered_children():
    spans = [
        {"id": 0, "name": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "c", "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "name": "d", "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st == {0: 6.0, 1: 2.0, 2: 2.0, 3: 1.0}
    t = Tracer(True)
    with t.span("x"):
        with t.span("y"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]


def test_event_log_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 0, "Finish Time": 100, "Failed": False},
         "Task Metrics": {"Executor Run Time": 80, "Executor Deserialize Time": 5,
                          "JVM GC Time": 10, "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = group_metrics(str(tmp_path))["g"]
    assert g["jobs"] == 1 and g["tasks"] == 1
    assert g["task_busy_s"] == pytest.approx(0.08) and g["sched_delay_s"] == pytest.approx(0.015)
    assert g["shuffle_write_bytes"] == 7


def test_traced_layers_add_up_to_traced_wall():
    r = _bench("--workload", "mixed", "--seed", "2", "--seconds", "1", "--trace", "1", "--size", "60")
    assert r.returncode == 0, r.stderr[-2000:]
    head, last = (json.loads(x) for x in r.stdout.strip().splitlines()[-2:])
    assert last["correct"] and set(last["metrics"]) == set(run.LINE_LAYER)
    with open(os.path.join(ROOT, head["side_file"])) as f:
        side = json.load(f)
    info = side["runs"][0]["info"]
    traced, untraced = info["traced_wall_s"], info["untraced_wall_s"]
    gap = abs(info["layer_self_s"] - traced)
    assert gap <= abs(traced - untraced) + 0.02 * traced
    assert side["metrics"]["salt.empty_partitions"] > 0
