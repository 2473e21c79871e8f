"""Seeded input generator for the benchmark workloads.

Every conversation is generated from its own substreams, so the rows (and
therefore the input digest) do not depend on how generation is chunked.
Payloads come from the ``ocr_spark.fixtures`` payload functions; the program
under test only ever sees the parquet written here.

Inputs are cached by (workload, seed, size) under the work directory, so a
re-run with the same arguments skips generation; generation time is never
part of the program's set-up time.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import time
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark import fixtures

#: Default size per workload, in base conversations.
DEFAULT_SIZE = {"mixed": 500, "plain-skew": 800, "transcript-ops": 120}
WORKLOADS = tuple(DEFAULT_SIZE)

#: plain-skew: share of plain pass-through turns, and the long conversations
#: (the fixtures' ``skew_conv_turns`` shape) placed at fixed fractions of the
#: conversation range.
PLAIN_SHARE = 0.97
LONG_CONV_TURNS = (2000, 3000)
LONG_CONV_AT = (0.0, 1 / 3, 2 / 3)

#: transcript-ops: share of base conversations that get a near-duplicate
#: family, and the family's number of copies. Every copy derives from the
#: base, so a family is a near-clique, the shape ``conversation_clusters``
#: is built for. Most found copies pair with the base, some only with
#: another copy, so label propagation changes labels in two rounds and
#: stops on the third.
FAMILY_SHARE = 0.25
FAMILY_COPIES = (2, 4)

CHUNK_CONVS = 200
_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
_TOOLS = ("html", "grid", "json", "null")
_PAYLOAD_TOOLS = _TOOLS[:3]

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

# (turn_idx, role, text, tool) for one conversation
Turn = tuple[int, str, str, str]


def _words(rng: np.random.Generator, lo: int, hi: int) -> str:
    vocab = fixtures.VOCAB
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(lo, hi))))


def _payload(rng: np.random.Generator, tool: str) -> str:
    if tool == "html":
        return fixtures.html_payload(rng)[0]
    if tool == "grid":
        return fixtures.grid_payload(rng)
    if tool == "json":
        return fixtures.json_payload(rng)
    return _words(rng, 3, 30)


# Shape (conversation lengths, tool and role sequences, near-dup families)
# comes from seed-free streams; the seed picks only the text. Runs on
# different seeds then time the same partition layout and job structure,
# so their spread is the program's and the host's, not the inputs'.
# transcript-ops keeps the text of near-dup families seed-free as well:
# whether MinHash-LSH pairs two copies depends on their text hashes, so a
# seeded family text changes the pairs found, the label-propagation
# rounds and the number of Spark jobs from one seed to the next.


def _mixed_conv(seed: int, i: int) -> list[Turn]:
    """The fixtures' default mix: ~1/4 each html/grid/json/plain."""
    n = int(np.random.default_rng([i, 7]).integers(5, 41))
    roles = ("user", "assistant", "tool")
    out = []
    for t in range(n):
        tool = _TOOLS[int(np.random.default_rng([i, t, 7]).integers(0, len(_TOOLS)))]
        out.append((t, roles[t % 3], _payload(np.random.default_rng([seed, i, t]), tool), tool))
    return out


def _long_conv_indices(size: int) -> set[int]:
    return {int(f * size) for f in LONG_CONV_AT}


def _plain_skew_conv(seed: int, i: int, size: int) -> list[Turn]:
    shape = np.random.default_rng([i, 11])
    n = int(shape.integers(*LONG_CONV_TURNS) if i in _long_conv_indices(size) else shape.integers(5, 41))
    out = []
    for t in range(n):
        r = np.random.default_rng([seed, i, t, 11])
        if shape.random() < PLAIN_SHARE:
            out.append((t, "user" if t % 2 == 0 else "assistant", _words(r, 40, 200), "null"))
        else:
            tool = _PAYLOAD_TOOLS[int(shape.integers(0, 3))]
            out.append((t, "tool", _payload(r, tool), tool))
    return out


def _ops_base(seed: int, i: int) -> list[Turn]:
    """Plain-text transcript with injected same-role runs and verbatim
    retry runs (consecutive repeats of the previous turn)."""
    shape = np.random.default_rng([i, 13])
    text = np.random.default_rng([i, 23] if _has_family(i) else [seed, i, 13])
    out: list[Turn] = []
    role = "user"
    for t in range(int(shape.integers(8, 31))):
        roll = shape.random()
        if out and roll < 0.08:
            out.append((t, out[-1][1], out[-1][2], "null"))  # retry run
            continue
        if t and roll >= 0.18:  # else: same-role run
            role = "assistant" if role == "user" else "user"
        out.append((t, role, _words(text, 5, 25), "null"))
    return out


def _has_family(i: int) -> bool:
    return np.random.default_rng([i, 17]).random() < FAMILY_SHARE


def _ops_family(i: int, base: list[Turn]) -> list[list[Turn]]:
    """Near-duplicate copies of ``base``: each regenerates one turn, and
    some are truncated (re-exported / cut-off copies)."""
    shape, text = np.random.default_rng([i, 17]), np.random.default_rng([i, 19])
    if shape.random() >= FAMILY_SHARE:  # the draw _has_family makes
        return []
    copies = []
    for _ in range(int(shape.integers(*FAMILY_COPIES))):
        cur = list(base)
        j = int(shape.integers(0, len(cur)))
        t, role, _, tool = cur[j]
        cur[j] = (t, role, _words(text, 5, 25), tool)
        if shape.random() < 0.3:
            cur = cur[: max(6, int(len(cur) * 0.85))]
        copies.append(cur)
    return copies


def conversations(
    workload: str, seed: int, size: int, lo: int, hi: int
) -> Iterator[tuple[str, int, list[Turn]]]:
    """(conv_id, base index, turns) for base conversations ``lo..hi-1`` of
    ``size``, in a fixed order that depends only on the indices."""
    for i in range(lo, hi):
        if workload == "mixed":
            yield f"conv_{i:06d}", i, _mixed_conv(seed, i)
        elif workload == "plain-skew":
            yield f"conv_{i:06d}", i, _plain_skew_conv(seed, i, size)
        elif workload == "transcript-ops":
            base = _ops_base(seed, i)
            yield f"conv_{i:06d}", i, base
            # "-k" sorts after the base id: the base is each family's min
            # label, which reaches a copy paired only with another copy in
            # the second round
            for k, copy in enumerate(_ops_family(i, base), 1):
                yield f"conv_{i:06d}-{k}", i, copy
        else:
            raise ValueError(f"unknown workload {workload!r}")


def _table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in SCHEMA]
    return pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, SCHEMA)], schema=SCHEMA)


def chunks(workload: str, seed: int, size: int, chunk_convs: int = CHUNK_CONVS) -> Iterator[pa.Table]:
    """The input as Arrow tables of ``chunk_convs`` base conversations each."""
    for lo in range(0, size, chunk_convs):
        rows = []
        for conv_id, i, turns in conversations(workload, seed, size, lo, min(size, lo + chunk_convs)):
            day = _EPOCH + dt.timedelta(days=i)
            for t, role, text, tool in turns:
                rows.append((conv_id, t, role, text, tool, day + dt.timedelta(minutes=t)))
        yield _table(rows)


def digest_update(h, table: pa.Table) -> None:
    for conv_id, t, role, text, tool in zip(
        *(table.column(c).to_pylist() for c in ("conv_id", "turn_idx", "role", "text", "tool"))
    ):
        h.update(f"{conv_id}\x1f{t}\x1f{role}\x1f{tool}\x1f{text}\x1e".encode())


def input_digest(workload: str, seed: int, size: int, chunk_convs: int = CHUNK_CONVS) -> str:
    h = hashlib.sha256()
    for table in chunks(workload, seed, size, chunk_convs):
        digest_update(h, table)
    return h.hexdigest()


def source_digest() -> str:
    """Digest of the generator and the fixtures it draws payloads from, so
    a cached input is not reused after either changes."""
    h = hashlib.sha256()
    for path in (__file__, fixtures.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure_input(root: str, workload: str, seed: int, size: int) -> dict:
    """Generate (or reuse) the cached input; returns its meta record."""
    d = os.path.join(root, "inputs", f"{workload}-s{seed}-n{size}-{source_digest()}")
    path = os.path.join(d, "transcripts.parquet")
    if os.path.exists(os.path.join(d, "meta.json")):
        with open(os.path.join(d, "meta.json")) as f:
            return {**json.load(f), "path": path}
    tmp = f"{d}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.monotonic()
    h = hashlib.sha256()
    turns = 0
    convs: set[str] = set()
    with pq.ParquetWriter(os.path.join(tmp, "transcripts.parquet"), SCHEMA) as w:
        for table in chunks(workload, seed, size):
            digest_update(h, table)
            turns += table.num_rows
            convs.update(table.column("conv_id").to_pylist())
            w.write_table(table)
    meta = {
        "workload": workload,
        "seed": seed,
        "size": size,
        "turns": turns,
        "convs": len(convs),
        "bytes": os.path.getsize(os.path.join(tmp, "transcripts.parquet")),
        "digest": h.hexdigest(),
        "gen_s": round(time.monotonic() - t0, 3),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return {**meta, "path": path}
