"""In-gate contract replay (VERDICT r3 item 5): every queries() entry +
its DuckDB oracle re-proven at sf0.001 on EVERY pytest run, so queries
rotated out of the driver's 50-entry correctness window keep fresh green
evidence each round. Runs scripts/check_contract.py as a subprocess —
its own SparkSession (one thread per owned CPU) must not stop the shared test session.
184-216 s on a 4-vCPU host; the single slowest test in the gate, by design the widest."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata absent"
)
def test_full_contract_surface_sf0001():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "check_contract.py"),
         "--sf", SF_DIR],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=REPO,
    )
    tail = "\n".join(proc.stdout.splitlines()[-40:])
    assert proc.returncode == 0, f"contract replay failed:\n{tail}\n{proc.stderr[-2000:]}"
    assert "ALL OK" in proc.stdout, tail


def test_every_query_has_an_oracle_in_the_same_key_order():
    # import only, no Spark: the records make the oracle part of the query
    import __spark_entry__ as entrymod

    keys = list(entrymod.queries())
    assert keys
    assert keys == list(entrymod.oracle_sql())
