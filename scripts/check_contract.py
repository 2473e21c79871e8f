"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() in DuckDB at
the given sf dir, compare row count + column names + values.

Usage: python scripts/check_contract.py [--sf /root/testdata/sf0.01] [--only q1,q2]

Prints the sha256 of the key order first, then one line per query; each
``ok`` line ends with the sha256 of the query's canonical rows (``_canon``),
so two checkouts can be compared value for value by diffing their output.
A query without an oracle fails.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(df, float_dp=9):
    """pandas frame → sorted, stringified rows for order-insensitive compare."""
    import numpy as np

    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if str(s.dtype).startswith("datetime"):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype.kind == "f":
            df[c] = s.round(float_dp).map(
                lambda v: "null" if v != v else repr(float(v))
            )
        elif s.dtype.kind in "iu":
            df[c] = s.astype("int64").astype(str)
        elif s.dtype.kind == "b":
            df[c] = s.map({True: "true", False: "false"})
        else:
            df[c] = s.map(lambda v: "null" if v is None or v != v else str(v))
    rows = sorted(map(tuple, df.values.tolist()))
    return rows


def _sha(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--sf", default="/root/testdata/sf0.01")
    p.add_argument("--only", default=None)
    args = p.parse_args(argv)

    import duckdb

    import __spark_entry__ as entrymod
    from ocr_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        app="contract-check", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{args.sf}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    print(f"keys {len(qs)} order {_sha(list(qs))}")
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            got = fn(spark, args.sf).toPandas()
        except Exception:
            failures.append(name)
            print(f"FAIL {name}: spark query raised")
            traceback.print_exc()
            continue
        if name not in oracles:
            failures.append(name)
            print(f"FAIL {name}: no oracle")
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception:
            failures.append(name)
            print(f"FAIL {name}: oracle SQL raised")
            traceback.print_exc()
            continue
        if sorted(got.columns) != sorted(want.columns):
            failures.append(name)
            print(
                f"FAIL {name}: columns {sorted(got.columns)} vs {sorted(want.columns)}"
            )
            continue
        if len(got) != len(want):
            failures.append(name)
            print(f"FAIL {name}: rowcount {len(got)} vs {len(want)}")
            continue
        g, w = _canon(got), _canon(want)
        if g != w:
            failures.append(name)
            bad = [i for i, (a, b) in enumerate(zip(g, w)) if a != b][:3]
            print(f"FAIL {name}: value mismatch at sorted rows {bad}")
            for i in bad:
                print("  spark:", g[i])
                print("  duck :", w[i])
            continue
        print(
            f"ok   {name}: {len(got)} rows match [{time.monotonic()-t0:.1f}s]"
            f" sha256 {_sha(g)}"
        )

    # entry() smoke
    if only is None:
        try:
            res = entrymod.entry(spark).toPandas()
            print(
                f"ok   entry(): {len(res)} rows, schema {list(res.columns)}"
                f" sha256 {_sha(_canon(res))}"
            )
        except Exception:
            failures.append("entry")
            traceback.print_exc()

    spark.stop()
    print(("ALL OK" if not failures else f"FAILURES: {failures}"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
