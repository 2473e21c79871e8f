"""The row-pattern helpers (``operators/runs.py``) against a pure-Python
reference: maximal runs by ``itertools.groupby`` and a group's values in
key order by ``sorted``, over ~200 seeded partitions checked by one
Spark action."""

from __future__ import annotations

import itertools
import random

from pyspark.sql.window import Window

from ocr_spark.operators.runs import changed, ordered_list, run_ids

VALUES = ["a", "b", None]


def _partitions(seed: int = 13, n: int = 200) -> dict[int, list]:
    """Value sequences in key order: single rows, all-equal runs
    (NULL runs too), a value recurring after a different one, and
    random mixes with NULLs."""
    rng = random.Random(seed)
    parts = {}
    for p in range(n):
        kind = p % 4
        if kind == 0:
            vals = [rng.choice(VALUES)]
        elif kind == 1:
            vals = [rng.choice(VALUES)] * rng.randint(2, 6)
        elif kind == 2:
            vals = ["a", "b", "a", None, None, "a"][: rng.randint(3, 6)]
        else:
            vals = [rng.choice(VALUES) for _ in range(rng.randint(1, 12))]
        parts[p] = vals
    return parts


def _reference(vals: list) -> list[int]:
    return [
        run
        for run, (_, grp) in enumerate(itertools.groupby(vals))
        for _ in grp
    ]


def test_run_ids_and_ordered_list_match_python(spark):
    rng = random.Random(7)
    parts = _partitions()
    rows, want = [], {}
    for p, vals in parts.items():
        # sparse, non-contiguous keys so only the sort gives the order
        keys = sorted(rng.sample(range(1000), len(vals)))
        rows += [(p, k, v) for k, v in zip(keys, vals)]
        want[p] = (_reference(vals), vals)
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "part int, idx int, val string")
    w = Window.partitionBy("part").orderBy("idx")
    run = run_ids(w, changed("val", w))
    got = (
        df.select("part", "idx", "val", run.alias("run"))
        .groupBy("part")
        .agg(
            ordered_list("idx", "run").alias("runs"),
            ordered_list("idx", "val").alias("vals"),
        )
        .collect()
    )
    assert {r.part: (r.runs, r.vals) for r in got} == want
