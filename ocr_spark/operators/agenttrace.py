"""Agent-trace analytics over tool-bearing transcripts.

The input-hint schema for this engine's corpus is
``(conv_id, turn_idx, role, text, tool, ts)`` — agent transcripts carry
a per-turn tool name and a wall-clock timestamp alongside the text.
`transcript.py` covers the text-side structure work (QA pairs, retry
cleanup, loss masks); this module covers the TRACE side: which tools an
agent called, in what order, how long turns took, and where the agent
got stuck in a retry loop.  A training pipeline uses these signals to
filter degenerate trajectories (tool loops, stalled conversations)
before SFT and to build tool-use curricula (transition statistics).

Timestamps are carried as integer epoch SECONDS (``ts_s`` BIGINT), not
TIMESTAMP values: every downstream quantity here is a difference or a
sum of differences, which stays exact in int64 and — unlike timestamp
exports — has no session-timezone parity surface between engines.

Scale shape: every operator is at most ONE hash exchange on conv_id
(the window partitioning) followed by a small-key aggregation (tool
names / bigrams — dozens of keys, map-side combined).  Turn text rides
a shuffle only in ``code_blocks``, whose output carries an md5 of each
extracted block rather than the block body.

Reference parity: the reference pipeline (ExtractX_OCR.py) emits
ordered per-turn spans; these operators consume that shape with the
trace columns the input hint adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.runs import changed, conv_window, run_ids


def tool_stats(turns: DataFrame) -> DataFrame:
    """Per-tool usage statistics: call count, distinct conversations,
    and the exact integer sum/count of the "gap" — the seconds from a
    tool-bearing turn to the next turn in its conversation (tool
    execution + model response time).  The average is left to the
    consumer as ``sum_gap_s / n_gaps``: summing exact int64 seconds
    keeps the output hash-stable across engines, a float mean would
    not be.

    A conversation's LAST turn has no successor, so it contributes a
    call but no gap (``n_gaps`` counts only turns with a successor).
    One conv_id exchange for the lead(); the final groupBy keys on the
    tool name — a handful of keys, map-side combined."""
    w = conv_window()
    gap = F.lead("ts_s").over(w) - F.col("ts_s")
    g = turns.select(
        "conv_id", "tool", gap.alias("__gap")
    ).filter(F.col("tool").isNotNull())
    return (
        g.groupBy("tool")
        .agg(
            F.count("*").alias("n_calls"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.sum("__gap").alias("sum_gap_s"),
            F.count("__gap").alias("n_gaps"),
        )
        .select("tool", "n_calls", "n_convs", "sum_gap_s", "n_gaps")
    )


def tool_bigrams(turns: DataFrame) -> DataFrame:
    """Tool-transition mining: for each conversation, order the
    tool-bearing turns by turn_idx and count (prev_tool, tool)
    transitions across the corpus.  The transition table is the input
    to tool-use curricula and to Markov-style trajectory scoring.

    ``prev_tool`` is the previous TOOL-BEARING turn's tool (plain
    turns in between don't break a transition); a conversation's first
    tool call has no predecessor and is excluded.  One conv_id
    exchange; the count keys on tool-name pairs (tiny domain)."""
    w = conv_window()
    t = turns.filter(F.col("tool").isNotNull()).select(
        "conv_id",
        "turn_idx",
        "tool",
        F.lag("tool").over(w).alias("prev_tool"),
    )
    return (
        t.filter(F.col("prev_tool").isNotNull())
        .groupBy("prev_tool", "tool")
        .agg(F.count("*").alias("n_transitions"))
        .select("prev_tool", "tool", "n_transitions")
    )


#: a gap above this many seconds marks a stalled hop in turn_latency
STALL_GAP_S = 120


def turn_latency(
    turns: DataFrame, stall_gap_s: int = STALL_GAP_S
) -> DataFrame:
    """Per-conversation timing profile: turn count, wall duration
    (last ts − first ts), the largest single inter-turn gap, and how
    many gaps exceed ``stall_gap_s`` (stalled hops — an agent waiting
    on a hung tool).  All integer seconds, exact in both engines.

    One conv_id exchange: the lag() and the groupBy share the same
    partitioning, so Catalyst plans a single shuffle."""
    w = conv_window()
    gap = F.col("ts_s") - F.lag("ts_s").over(w)
    g = turns.select("conv_id", "ts_s", gap.alias("__gap"))
    return (
        g.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            (F.max("ts_s") - F.min("ts_s")).alias("duration_s"),
            F.max("__gap").alias("max_gap_s"),
            F.count(F.when(F.col("__gap") > stall_gap_s, 1)).alias(
                "n_stalled"
            ),
        )
        .select("conv_id", "n_turns", "duration_s", "max_gap_s", "n_stalled")
    )


def tool_loops(turns: DataFrame, min_run: int = 2) -> DataFrame:
    """Stuck-loop detection: maximal runs of >= ``min_run`` consecutive
    tool-bearing turns calling the SAME tool within a conversation — an
    agent re-invoking a failing tool.  Trajectories containing long
    runs are prime filter candidates for SFT corpora.

    Runs are numbered by :func:`runs.run_ids` over the tool-bearing
    subsequence, so "consecutive" means adjacent in the tool-call
    SEQUENCE — plain text turns between two calls of the same tool
    don't break a run. One conv_id exchange and one window sort."""
    w = conv_window()
    t = turns.filter(F.col("tool").isNotNull())
    isl = t.select(
        "conv_id",
        "turn_idx",
        "tool",
        run_ids(w, changed("tool", w)).alias("__run"),
    )
    runs = isl.groupBy("conv_id", "tool", "__run").agg(
        F.min("turn_idx").alias("start_turn"),
        F.max("turn_idx").alias("end_turn"),
        F.count("*").alias("run_len"),
    )
    return runs.filter(F.col("run_len") >= min_run).select(
        "conv_id", "tool", "start_turn", "end_turn", "run_len"
    )


#: fenced block pattern shared by Spark and the DuckDB oracle — both
#: dialects (java.util.regex / RE2) treat [\s\S]*? identically, and the
#: pattern avoids every construct the two engines disagree on
#: (backrefs, lookaround, \p{} classes — see script_detect's note).
FENCE_RE = "```([a-z]+)\\n([\\s\\S]*?)\\n```"


def code_blocks(turns: DataFrame) -> DataFrame:
    """Fenced-code-block extraction: every ```lang ...``` block in a
    turn's text, as (conv_id, turn_idx, block_idx, lang, n_chars,
    n_lines, code_md5).  Code-heavy turns feed code-continuation
    corpora; the md5 lets a downstream exact-dedup run on blocks
    without ever materializing block text in the output.

    Per-row JVM regexp (two group-extractions zipped) — ZERO
    exchanges; the posexplode preserves block order within a turn."""
    langs = F.regexp_extract_all(F.col("text"), F.lit(FENCE_RE), F.lit(1))
    codes = F.regexp_extract_all(F.col("text"), F.lit(FENCE_RE), F.lit(2))
    z = turns.select(
        "conv_id",
        "turn_idx",
        F.arrays_zip(langs.alias("lang"), codes.alias("code")).alias("__b"),
    ).filter(F.size("__b") > 0)
    e = z.select(
        "conv_id",
        "turn_idx",
        F.posexplode("__b").alias("block_idx", "__blk"),
    )
    code: Column = F.col("__blk.code")
    return e.select(
        "conv_id",
        "turn_idx",
        "block_idx",
        F.col("__blk.lang").alias("lang"),
        F.length(code).alias("n_chars"),
        (F.size(F.split(code, "\n", -1))).alias("n_lines"),
        F.md5(code).alias("code_md5"),
    )


#: episode gap threshold: a >10-minute silence starts a new episode —
#: agent sessions span days, and training on one giant concatenated
#: trace leaks stale context across genuinely separate work sessions.
EPISODE_GAP_S = 600


def episodes(turns: DataFrame, gap_s: int = EPISODE_GAP_S) -> DataFrame:
    """Split each conversation into EPISODES on inter-turn silence: a
    gap > ``gap_s`` seconds starts a new episode (0-indexed per
    conversation).  Emits one row per episode with its turn range,
    size, and wall duration — the unit a trainer actually packs, and
    the unit retention/quality filters should score (a 3-day trace is
    not one sample).

    All-integer arithmetic on epoch-second ``ts_s`` (no timestamp
    casts — the event_funnel tz lesson).  Episodes are numbered by
    :func:`runs.run_ids`; the lag, the run numbering, and the
    per-episode groupBy all ride ONE conv_id exchange."""
    w = conv_window()
    gap = F.col("ts_s") - F.lag("ts_s").over(w)
    marked = turns.select(
        "conv_id",
        "turn_idx",
        "ts_s",
        run_ids(w, gap > gap_s).cast("int").alias("episode_idx"),
    )
    return (
        marked.groupBy("conv_id", "episode_idx")
        .agg(
            F.min("turn_idx").alias("start_turn"),
            F.max("turn_idx").alias("end_turn"),
            F.count(F.lit(1)).cast("bigint").alias("n_turns"),
            (F.max("ts_s") - F.min("ts_s")).alias("duration_s"),
        )
        .select(
            "conv_id",
            "episode_idx",
            "start_turn",
            "end_turn",
            "n_turns",
            "duration_s",
        )
    )
