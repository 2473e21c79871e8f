"""Transcript-native training-data operators.

The corpus this engine is built for is multi-turn conversation / agent
transcripts (conv_id, turn_idx, role, text, ...).  Before transcript
text can feed an SFT / preference pipeline it needs conversation-level
structure work that plain document operators don't cover:

- ``qa_pairs``          — (prompt, response) supervision pairs: each
  assistant turn joined to the nearest preceding user turn.
- ``clean_turns``       — agent-retry artifact cleanup: drop blank
  turns, collapse consecutive identical (role, text) repeats (tool
  retries re-emit the same turn verbatim), densely renumber.
- ``validate_roles``    — per-conversation structural validation:
  role-alternation violations, first offending turn, user-first check.
- ``loss_mask``         — SFT loss masking: token offsets of every
  assistant turn inside the conversation's concatenated token stream
  (loss applies only on assistant spans).
- ``trim_context``      — context-window trimming: the maximal
  conversation suffix that fits a token budget (reverse running sum).
- ``dedup_conversations`` — conversation-level exact dedup on the
  ordered (role, text) sequence; only per-turn digests ever shuffle.
- ``boilerplate_turns``  — cross-conversation repeated-turn masking
  (canned greetings / retry banners): C4 line-dedup lifted to turns.
- ``flag_refusals``      — canned-refusal / AI-ism hygiene rate per
  conversation (literal phrase table, map-side flags).
- ``fork_prefixes``      — shared turn-prefix fork detection: how deep
  does each conversation share an identical (role, text) prefix with
  other conversations (regenerate/fork artifacts duplicate context).
- ``render_chat``        — deterministic ChatML-style serialization of
  each conversation into one training-ready string.

Reference parity: the reference pipeline (ExtractX_OCR) emits ordered
per-turn text spans; these operators consume exactly that shape.  The
five per-turn stages are single-exchange dataflows: one hash partition
on conv_id, then window functions over (conv_id, turn_idx) — no text
ever rides a second shuffle, so a 10^12-turn corpus pays one
partitioning that AQE can also reuse across chained transcript stages
(dedup_conversations adds one digest-keyed pass of 32-byte keys).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_spark.operators.runs import (
    changed,
    conv_window,
    ordered_list,
    run_ids,
)

#: A text is blank when nothing is left after deleting the Unicode space
#: separators (category Zs). DuckDB's ``trim`` strips all of them and
#: Spark's only U+0020, so neither engine's ``trim`` decides blankness:
#: both delete this one class with ``translate``.
BLANK_CHARS = " \u00a0\u1680" + "".join(map(chr, range(0x2000, 0x200B))) + "\u202f\u205f\u3000"


def is_blank(col: Column) -> Column:
    """Whether ``col`` is blank; NULL stays NULL."""
    return F.translate(col, BLANK_CHARS, "") == ""


def blank_sql(expr: str) -> str:
    """:func:`is_blank` as SQL text, for the DuckDB oracles."""
    return f"(translate({expr}, '{BLANK_CHARS}', '') = '')"


def qa_pairs(
    turns: DataFrame,
    user_role: str = "user",
    assistant_role: str = "assistant",
) -> DataFrame:
    """(prompt, response) pair mining: every assistant turn paired with
    the LAST user turn strictly before it in the conversation.

    Assistant turns with no preceding user turn (conversation openers,
    system-prompt-only prefixes) are dropped — there is nothing to
    supervise against.  One exchange on conv_id; ``last(..., True)``
    over the unbounded-preceding frame is a running value, not a
    per-row rescan, so long conversations cost O(turns)."""
    w = (
        conv_window()
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prompt = F.last(
        F.when(F.col("role") == user_role, F.col("text")), ignorenulls=True
    ).over(w)
    return (
        turns.withColumn("prompt", prompt)
        .filter((F.col("role") == assistant_role) & F.col("prompt").isNotNull())
        .select(
            "conv_id",
            "turn_idx",
            "prompt",
            F.col("text").alias("response"),
        )
    )


def clean_turns(turns: DataFrame) -> DataFrame:
    """Retry-artifact cleanup: drop blank turns, collapse consecutive
    turns whose (role, text) repeat the previous turn verbatim (agent
    tool-retry loops re-emit the identical turn), and renumber the
    survivors densely as ``new_turn_idx``.

    Keep-first semantics: the FIRST turn of a repeat run survives with
    its original turn_idx.  Both windows share the (conv_id, turn_idx)
    sort, so Catalyst plans a single exchange."""
    w = conv_window()
    nonblank = turns.filter(~is_blank(F.col("text")))
    flagged = nonblank.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        (changed("role", w) | changed("text", w)).alias("__new"),
    )
    kept = flagged.filter(F.col("__new"))
    return kept.select(
        "conv_id",
        (F.row_number().over(w) - 1).alias("new_turn_idx"),
        F.col("turn_idx").alias("orig_turn_idx"),
        "role",
        "text",
    )


def validate_roles(
    turns: DataFrame, user_role: str = "user"
) -> DataFrame:
    """Per-conversation structural validation for SFT ingestion: count
    role-alternation violations (a turn repeating its predecessor's
    role), record the first offending turn_idx, and check the
    conversation opens with a user turn.  ``valid`` is the ingestion
    gate.  One exchange on conv_id; the groupBy rides the window's
    partitioning."""
    w = conv_window()
    viol = (F.col("role") == F.lag("role").over(w)).cast("int")
    per_turn = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        viol.alias("__v"),
    )
    return per_turn.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.count(F.when(F.col("__v") == 1, 1)).alias("n_violations"),
        F.min(F.when(F.col("__v") == 1, F.col("turn_idx"))).alias(
            "first_bad_idx"
        ),
        (F.min_by("role", "turn_idx") == user_role).alias("starts_with_user"),
    ).select(
        "conv_id",
        "n_turns",
        "n_violations",
        "first_bad_idx",
        "starts_with_user",
        (
            (F.col("n_violations") == 0) & F.col("starts_with_user")
        ).alias("valid"),
    )


def _tok_count(col: Column) -> Column:
    # blank text is zero tokens (split('') yields one empty element in
    # BOTH engines; don't rely on it)
    return F.when(is_blank(col), F.lit(0)).otherwise(
        F.size(F.split(col, " "))
    ).cast("bigint")


def loss_mask(
    turns: DataFrame, assistant_role: str = "assistant"
) -> DataFrame:
    """SFT loss-mask spans: concatenating a conversation's turns into
    one token stream (whitespace tokens — swap in bpe.encode's count
    for BPE training), the loss applies only on assistant turns.
    Emits [start_tok, end_tok) offsets of every non-empty assistant
    turn in that stream.  Running sum over the conv window — integers
    end to end, so the offsets are exact and engine-portable."""
    w = conv_window().rowsBetween(Window.unboundedPreceding, -1)
    tok = _tok_count(F.col("text"))
    spans = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        tok.alias("__tok"),
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        "__tok",
        F.coalesce(F.sum("__tok").over(w), F.lit(0).cast("bigint")).alias(
            "start_tok"
        ),
    )
    return spans.filter(
        (F.col("role") == assistant_role) & (F.col("__tok") > 0)
    ).select(
        "conv_id",
        "turn_idx",
        "start_tok",
        (F.col("start_tok") + F.col("__tok")).alias("end_tok"),
    )


#: context trimming budget — fixed contract for the query surface.
TRIM_BUDGET_TOKENS = 150


def trim_context(
    turns: DataFrame, budget_tokens: int = TRIM_BUDGET_TOKENS
) -> DataFrame:
    """Context-window trimming: keep the maximal SUFFIX of each
    conversation that fits the token budget — chat training truncates
    history from the front, never the most recent turns.  A single
    turn larger than the whole budget drops (it cannot fit).

    ``tokens_to_end`` is the reverse running sum (this turn through the
    conversation's last turn); a turn survives iff that suffix total is
    within budget.  One exchange on conv_id, integer arithmetic only."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.desc("turn_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tok = _tok_count(F.col("text"))
    out = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        tok.alias("n_tokens"),
        F.sum(tok).over(w).alias("tokens_to_end"),
    )
    return out.filter(F.col("tokens_to_end") <= budget_tokens).select(
        "conv_id", "turn_idx", "role", "n_tokens", "tokens_to_end"
    )


#: per-turn (role, text) digest separator — parity-critical, shared by
#: every conversation-level dedup / containment / near-dup operator.
_TURN_SEP = "\x1f"


def _turn_digest() -> Column:
    """md5 of the NULL-coalesced (role, text) pair — THE per-turn
    content digest.  NULL role/text coalesce to '' before hashing:
    concat_ws would silently SKIP a NULL (digesting only the role)
    while SQL's ``||`` nulls the whole per-turn digest and string_agg
    then drops the turn — the engines would disagree on any
    NULL-bearing conversation.  ONE definition on purpose: forking it
    silently desyncs dedup_conversations, contained_conversations,
    near_dup_conversations, and fork_prefixes from each other and
    from their DuckDB oracles."""
    return F.md5(
        F.concat_ws(
            _TURN_SEP,
            F.coalesce(F.col("role"), F.lit("")),
            F.coalesce(F.col("text"), F.lit("")),
        )
    )


def _digest_array(turns: DataFrame) -> DataFrame:
    """(conv_id, __digs, n_turns): each conversation's turn-ordered
    per-turn digest sequence.  The digest is map-side JVM md5, so only
    (conv_id, turn_idx, 32-char digest) crosses the one conv_id
    exchange — turn text NEVER rides a shuffle no matter how long the
    conversations are."""
    return (
        turns.select("conv_id", "turn_idx", _turn_digest().alias("__d"))
        .groupBy("conv_id")
        .agg(ordered_list("turn_idx", "__d").alias("__digs"))
        .select(
            "conv_id",
            "__digs",
            F.size("__digs").cast("int").alias("n_turns"),
        )
    )


def dedup_conversations(turns: DataFrame) -> DataFrame:
    """Conversation-level exact dedup: two conversations are duplicates
    when their ordered (role, text) turn sequences are identical —
    re-crawled chat logs and forked agent sessions produce these.  Each
    conversation's content digest is md5 over its turns' md5(role, text)
    digests in turn order (:func:`_turn_digest`); the canonical copy is
    the smallest conv_id sharing the digest.

    Scale shape: :func:`_digest_array`'s single conv_id exchange plus a
    digest-keyed winner pass moving one 32-byte key per conversation."""
    digests = _digest_array(turns).select(
        "conv_id",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.md5(F.array_join("__digs", "")).alias("digest"),
    )
    w = Window.partitionBy("digest")
    return digests.select(
        "conv_id",
        "n_turns",
        "digest",
        F.min("conv_id").over(w).alias("canonical_conv_id"),
    ).select(
        "conv_id",
        "n_turns",
        "digest",
        "canonical_conv_id",
        (F.col("conv_id") != F.col("canonical_conv_id")).alias("is_dup"),
    )


def boilerplate_turns(turns: DataFrame, min_convs: int = 5) -> DataFrame:
    """Cross-conversation boilerplate masking: a turn whose exact text
    recurs in ``min_convs`` or more DISTINCT conversations is template
    noise — canned greetings, agent retry banners, system-injected
    disclaimers — that an SFT run would otherwise memorize verbatim.
    Flag it so loss masking / filtering can drop it while keeping the
    conversation structure intact (the C4 line-dedup idea lifted from
    lines-within-documents to turns-within-conversations).

    Blank turns (NULL, or :func:`is_blank`, the conversation_tiers
    rule) are never counted (clean_turns owns those), and NULL text
    hashes as '' on both engines.

    Scale shape: the per-turn digest is a map-side JVM md5, so only
    (digest, conv_id) pairs reach the distinct-count exchange and the
    flag join keys on 32-char digests — text never rides a shuffle.
    The digest-count side is one row per distinct turn text, joined
    back by hash join; nothing here is broadcast-sized by assumption."""
    base = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("__dig"),
        is_blank(F.coalesce(F.col("text"), F.lit(""))).alias("__blank"),
    )
    counts = (
        base.filter(~F.col("__blank"))
        .groupBy("__dig")
        .agg(F.countDistinct("conv_id").alias("__n"))
    )
    return base.join(counts, "__dig", "left").select(
        "conv_id",
        "turn_idx",
        "role",
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_convs"),
        (F.coalesce(F.col("__n"), F.lit(0)) >= min_convs).alias(
            "is_boilerplate"
        ),
    )


#: Canned-refusal / AI-ism phrase table (lowercase).  Literal on
#: purpose: the flag must be replayable as plain SQL LIKE patterns, so
#: the table is part of the operator contract, not a tunable.  The
#: prefixes anchor at the start of the turn; the markers match
#: anywhere.  None contain LIKE metacharacters (%, _).
REFUSAL_PREFIXES = (
    "i'm sorry",
    "i cannot",
    "i can't",
    "i am unable",
    "as an ai",
)
REFUSAL_MARKERS = (
    "as an ai language model",
    "i cannot assist with",
)


def _refusal_hit(low: Column) -> Column:
    """True when a lowercased text column matches the literal refusal
    table — prefix-anchored REFUSAL_PREFIXES plus floating
    REFUSAL_MARKERS; shared by flag_refusals and conversation_tiers."""
    hit = F.lit(False)
    for p in REFUSAL_PREFIXES:
        hit = hit | low.startswith(p)
    for m in REFUSAL_MARKERS:
        hit = hit | low.contains(m)
    return hit


def flag_refusals(turns: DataFrame) -> DataFrame:
    """SFT hygiene: per-conversation canned-refusal / AI-ism rate.
    Distilled chat corpora are full of templated assistant refusals
    ("I'm sorry, I can't ...", "As an AI language model ...") that an
    SFT run overfits to; the standard prep step counts them so the
    mixture stage can cap or drop refusal-heavy conversations.

    A turn flags iff it is an assistant turn whose lowercased text
    starts with a ``REFUSAL_PREFIXES`` entry or contains a
    ``REFUSAL_MARKERS`` entry.  Output is one row per conversation:
    assistant-turn count, refusal count, and the exact integer rate
    ``1e6·n_refusal DIV n_assistant`` (NULL when the conversation has
    no assistant turns).

    Scale shape: the flag is a map-side JVM expression (lower +
    startswith/contains chain — no regex, no Python); the only
    exchange is the conv_id aggregation of three integers, with
    map-side partial aggregation.  Text never rides a shuffle."""
    hit = _refusal_hit(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    is_assist = F.col("role") == "assistant"
    flagged = turns.select(
        "conv_id",
        is_assist.cast("long").alias("__a"),
        (is_assist & hit).cast("long").alias("__r"),
    )
    agg = flagged.groupBy("conv_id").agg(
        F.sum("__a").alias("n_assistant"),
        F.sum("__r").alias("n_refusal"),
    )
    return agg.select(
        "conv_id",
        "n_assistant",
        "n_refusal",
        F.when(F.col("n_assistant") == 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr("CAST(1000000 * n_refusal DIV n_assistant AS BIGINT)")
        )
        .alias("refusal_e6"),
    )


def fork_prefixes(
    turns: DataFrame, max_depth: int = 8, min_convs: int = 2
) -> DataFrame:
    """Shared turn-prefix fork detection: when a user regenerates or
    branches a conversation, the exported corpus holds several
    conversations that start with an IDENTICAL (role, text) turn
    prefix and diverge later.  Whole-conversation dedup misses them
    (the suffixes differ) but the duplicated context still skews
    training.  For each conversation report the deepest prefix length
    (capped at ``max_depth`` — forks happen early) that at least
    ``min_convs`` conversations share, and how many share it.

    Scale shape: per-turn digests are map-side md5, so the conv_id
    collect carries 32-char digests — text never rides any shuffle.
    Prefix digests explode to at most ``max_depth`` rows per
    conversation (bounded, unlike full-prefix explosion), the
    (plen, prefix_digest) count is a partial-aggregated exchange of
    integers, and the flag returns by digest hash join."""
    arr = _digest_array(turns)
    pre = arr.select(
        "conv_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, least({max_depth}, n_turns)),"
                " i -> md5(concat_ws('', slice(__digs, 1, i))))"
            )
        ).alias("__p0", "pdig"),
    ).select(
        "conv_id", (F.col("__p0") + 1).cast("int").alias("plen"), "pdig"
    )
    counts = pre.groupBy("plen", "pdig").agg(
        F.count("*").cast("long").alias("__n")
    )
    shared = pre.join(counts, ["plen", "pdig"]).filter(
        F.col("__n") >= min_convs
    )
    best = shared.groupBy("conv_id").agg(
        F.max("plen").alias("__depth"),
        F.expr("max_by(__n, plen)").alias("__share"),
    )
    return (
        arr.select("conv_id")
        .join(best, "conv_id", "left")
        .select(
            "conv_id",
            F.coalesce(F.col("__depth"), F.lit(0))
            .cast("int")
            .alias("fork_depth"),
            F.coalesce(F.col("__share"), F.lit(0))
            .cast("long")
            .alias("fork_convs"),
        )
    )


def render_chat(turns: DataFrame) -> DataFrame:
    """Deterministic ChatML-style serialization — the last prep step
    before tokenization: each conversation becomes ONE training-ready
    string ``<|im_start|>role\\ntext<|im_end|>\\n`` per turn, in turn
    order.  Emitting the rendered string (not just a digest) is the
    point: this frame is what the tokenizer shards consume.

    Scale shape: one exchange on conv_id; the per-turn parts are
    assembled map-side and the ordered concat happens inside the
    aggregate (:func:`runs.ordered_list` — no window, no second
    shuffle).  NULL role/text render as empty (|| would null-poison
    the whole conversation on the SQL side; coalesce keeps both
    engines identical)."""
    part = F.concat(
        F.lit("<|im_start|>"),
        F.coalesce(F.col("role"), F.lit("")),
        F.lit("\n"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("<|im_end|>\n"),
    )
    g = (
        turns.select("conv_id", "turn_idx", part.alias("__part"))
        .groupBy("conv_id")
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.array_join(ordered_list("turn_idx", "__part"), "").alias(
                "rendered"
            ),
        )
    )
    return g.select(
        "conv_id",
        "n_turns",
        F.length("rendered").cast("long").alias("n_chars"),
        "rendered",
    )


#: conversation_tiers thresholds (ppm). Literal on purpose: the tier
#: CASE is part of the operator contract and replays as plain SQL.
TIER_VIOL_E6 = 400_000
TIER_BLANK_E6 = 500_000
TIER_REFUSAL_E6 = 300_000
TIER_BOILER_E6 = 300_000
TIER_MIN_TURNS = 4


def conversation_tiers(turns: DataFrame) -> DataFrame:
    """Conversation quality-tier funnel — the transcript-axis sibling
    of the document quality_tiers funnel: clean the turns
    (:func:`clean_turns` semantics), then score each conversation on
    exact integer signals and bucket it with a fixed CASE.

    Signals (ppm, integer DIV — no float can tie-break):

    - ``blank_e6``   — blank/NULL turns over RAW turn count.
    - ``viol_e6``    — same-role adjacent pairs over cleaned pairs
      (NULL under 2 cleaned turns).
    - ``refusal_e6`` — canned-refusal assistant turns over assistant
      turns (NULL when no assistant turns survive cleaning).
    - ``boiler_e6``  — cleaned turns whose exact text recurs in >= 5
      distinct conversations (:func:`boilerplate_turns` rule).

    Tier (first match): ``discard`` on viol_e6 > 400k or blank_e6 >
    500k; ``low`` on refusal_e6 > 300k or boiler_e6 > 300k; ``mid``
    under 4 cleaned turns; else ``high``.

    Scale shape: cleaning + the adjacency lag share ONE conv_id
    exchange (text rides it once, as in clean_turns itself); the
    boilerplate count exchanges only (digest, conv_id) pairs; the two
    per-conversation aggregates and the final join are rows of
    integers keyed by conv_id."""
    raw = turns.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum(
            is_blank(F.coalesce(F.col("text"), F.lit(""))).cast("long")
        ).alias("n_blank"),
    )
    from ocr_spark.operators.dedup import _own_caches

    cleaned = clean_turns(turns)
    w = Window.partitionBy("conv_id").orderBy("new_turn_idx")
    # flagged feeds BOTH the digest count and the flag join-back:
    # persist so the clean_turns window (the one exchange text rides)
    # runs once, not once per branch (GC-tied release, the dedup.py
    # cache-ownership pattern)
    flagged = cleaned.select(
        "conv_id",
        F.coalesce(
            (F.lag("role").over(w) == F.col("role")).cast("long"),
            F.lit(0),
        ).alias("__viol"),
        (F.col("role") == "assistant").cast("long").alias("__a"),
        (
            (F.col("role") == "assistant")
            & _refusal_hit(F.lower(F.coalesce(F.col("text"), F.lit(""))))
        )
        .cast("long")
        .alias("__r"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("__dig"),
    ).persist()
    counts = flagged.groupBy("__dig").agg(
        F.countDistinct("conv_id").alias("__nc")
    )
    fb = flagged.join(counts, "__dig").select(
        "conv_id",
        "__viol",
        "__a",
        "__r",
        (F.col("__nc") >= 5).cast("long").alias("__b"),
    )
    cagg = fb.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("__ncl"),
        F.sum("__viol").alias("__nv"),
        F.sum("__a").alias("__na"),
        F.sum("__r").alias("__nr"),
        F.sum("__b").alias("__nb"),
    )
    j = raw.join(cagg, "conv_id", "left").select(
        "conv_id",
        "n_turns",
        "n_blank",
        F.coalesce(F.col("__ncl"), F.lit(0)).cast("long").alias("n_clean"),
        F.coalesce(F.col("__nv"), F.lit(0)).alias("__nv"),
        F.coalesce(F.col("__na"), F.lit(0)).alias("__na"),
        F.coalesce(F.col("__nr"), F.lit(0)).alias("__nr"),
        F.coalesce(F.col("__nb"), F.lit(0)).alias("__nb"),
    )
    sg = j.select(
        "conv_id",
        "n_turns",
        "n_clean",
        F.expr("CAST(1000000 * n_blank DIV n_turns AS BIGINT)").alias(
            "blank_e6"
        ),
        F.expr(
            "CASE WHEN n_clean < 2 THEN NULL"
            " ELSE CAST(1000000 * __nv DIV (n_clean - 1) AS BIGINT) END"
        ).alias("viol_e6"),
        F.expr(
            "CASE WHEN __na = 0 THEN NULL"
            " ELSE CAST(1000000 * __nr DIV __na AS BIGINT) END"
        ).alias("refusal_e6"),
        F.expr(
            "CASE WHEN n_clean = 0 THEN NULL"
            " ELSE CAST(1000000 * __nb DIV n_clean AS BIGINT) END"
        ).alias("boiler_e6"),
    )
    tier = F.expr(
        f"CASE WHEN COALESCE(viol_e6, 0) > {TIER_VIOL_E6}"
        f"  OR blank_e6 > {TIER_BLANK_E6} THEN 'discard'"
        f" WHEN COALESCE(refusal_e6, 0) > {TIER_REFUSAL_E6}"
        f"  OR COALESCE(boiler_e6, 0) > {TIER_BOILER_E6} THEN 'low'"
        f" WHEN n_clean < {TIER_MIN_TURNS} THEN 'mid'"
        " ELSE 'high' END"
    )
    out = sg.select(
        "conv_id",
        "n_turns",
        "n_clean",
        "blank_e6",
        "viol_e6",
        "refusal_e6",
        "boiler_e6",
        tier.alias("tier"),
    )
    return _own_caches(out, [flagged])


def _response_id(conv_id: str, turn_idx: str) -> Column:
    """The (conv_id, turn_idx) pair as one join key. A struct, not a
    joined string: concat_ws skips a NULL, so ("x#5", NULL) and ("x", 5)
    would both read "x#5"."""
    return F.struct(F.col(conv_id).alias("c"), F.col(turn_idx).alias("t"))


def preference_pairs(qa: DataFrame) -> DataFrame:
    """DPO/RLHF preference-pair mining over mined QA pairs: when the
    SAME prompt has several candidate responses (re-asked questions,
    forked sessions, template prompts), emit one (chosen, rejected)
    pair per prompt — chosen = highest exact integer quality score
    (textops.quality_e4), rejected = lowest, ties by (conv_id,
    turn_idx); prompts whose best and worst responses tie on quality
    yield nothing (no preference signal).

    Input shape = qa_pairs output (conv_id, turn_idx, prompt,
    response).  Scale shape: responses are scored per-row JVM-side
    BEFORE the one exchange on the prompt digest, and the output
    carries only (prompt, winner ids, margin) — response text never
    rides a group-wide shuffle; callers re-attach the two winning
    responses by (conv_id, turn_idx) join."""
    from ocr_spark.operators.textops import quality_e4

    scored = (
        qa.withColumn("__pd", F.md5(F.col("prompt")))
        .withColumn("__rid", _response_id("conv_id", "turn_idx"))
    )
    q = quality_e4(
        scored.select("__rid", F.col("response").alias("text")),
        col="text",
        id_col="__rid",
    ).select("__rid", F.coalesce("qe4", F.lit(-1)).alias("qe4"))
    keyed = scored.select("__pd", "prompt", "conv_id", "turn_idx", "__rid").join(
        q, "__rid"
    )
    w_hi = Window.partitionBy("__pd").orderBy(
        F.desc("qe4"), F.asc("conv_id"), F.asc("turn_idx")
    )
    w_lo = Window.partitionBy("__pd").orderBy(
        F.asc("qe4"), F.asc("conv_id"), F.asc("turn_idx")
    )
    ranked = keyed.select(
        "__pd",
        "prompt",
        "conv_id",
        "turn_idx",
        "qe4",
        F.row_number().over(w_hi).alias("__rh"),
        F.row_number().over(w_lo).alias("__rl"),
        F.max("qe4").over(Window.partitionBy("__pd")).alias("__qmax"),
        F.min("qe4").over(Window.partitionBy("__pd")).alias("__qmin"),
    ).filter(F.col("__qmax") > F.col("__qmin"))
    chosen = ranked.filter(F.col("__rh") == 1).select(
        "__pd",
        "prompt",
        F.col("conv_id").alias("chosen_conv_id"),
        F.col("turn_idx").alias("chosen_turn_idx"),
        F.col("qe4").alias("chosen_qe4"),
    )
    rejected = ranked.filter(F.col("__rl") == 1).select(
        "__pd",
        F.col("conv_id").alias("rejected_conv_id"),
        F.col("turn_idx").alias("rejected_turn_idx"),
        F.col("qe4").alias("rejected_qe4"),
    )
    return (
        chosen.join(rejected, "__pd")
        .select(
            "prompt",
            "chosen_conv_id",
            "chosen_turn_idx",
            "rejected_conv_id",
            "rejected_turn_idx",
            (F.col("chosen_qe4") - F.col("rejected_qe4")).alias("margin_e4"),
        )
    )


#: Sentence-final characters accepted as a clean response ending —
#: fixed operator contract, shared verbatim with the oracle.
TRUNC_PUNCT = (".", "!", "?")


def _trunc_flag_sql(text: str = "text", role: str = "role") -> str:
    """Dialect-neutral per-turn truncation flag (1/0): an assistant
    turn with text that either lacks sentence-final punctuation or
    leaves a \\`\\`\\` code fence unbalanced.  Fence parity avoids the
    ``/`` operator (double on the JVM, integer in DuckDB): with the
    removed length a multiple of 3, an odd fence count ⟺ length
    delta % 6 = 3.  The SAME text renders on the JVM and in DuckDB."""
    punct = ", ".join(f"'{p}'" for p in TRUNC_PUNCT)
    return (
        f"CASE WHEN {role} = 'assistant' AND {text} <> '' AND"
        f" (substr({text}, length({text}), 1) NOT IN ({punct})"
        f" OR (length({text}) - length(replace({text}, '```', ''))) % 6 = 3)"
        " THEN 1 ELSE 0 END"
    )


def audit_truncation(turns: DataFrame) -> DataFrame:
    """Per-conversation truncation audit — the SFT-ingest gate that
    catches responses cut off by max-token limits or stop-sequence
    bugs: an assistant turn counts as truncated when it does not end
    in sentence-final punctuation or leaves a code fence open.  The
    last assistant turn's flag is surfaced separately (a truncated
    FINAL response is the common max-token symptom; NULL when the
    conversation has no non-empty assistant turn) via an integer
    max-encoding — max(turn_idx·2 + flag) — so the argmax can't
    tie-break differently across engines.

    Scale shape: per-turn flags are single-row JVM expressions; the
    audit is ONE hash aggregation on conv_id (the same partitioning
    every other transcript stage uses) — no window, no second
    exchange, text never leaves the scan stage."""
    per = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.expr(_trunc_flag_sql()).alias("__tr"),
    )
    last_enc = F.max(
        F.when(
            (F.col("role") == "assistant") & (F.col("text") != ""),
            F.col("turn_idx").cast("long") * 2 + F.col("__tr"),
        ).otherwise(F.lit(-1).cast("long"))
    )
    return (
        per.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum(F.when(F.col("text") == "", 1).otherwise(0))
            .cast("long")
            .alias("n_empty"),
            F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0))
            .cast("long")
            .alias("n_assistant"),
            F.sum("__tr").cast("long").alias("n_truncated"),
            last_enc.alias("__mx"),
        )
        .select(
            "conv_id",
            "n_turns",
            "n_empty",
            "n_assistant",
            "n_truncated",
            F.when(F.col("__mx") < 0, F.lit(None).cast("boolean"))
            .otherwise(F.col("__mx") % 2 == 1)
            .alias("last_assistant_truncated"),
        )
    )


def grounding_score(qa: DataFrame) -> DataFrame:
    """Context-groundedness over (prompt, response) pairs — the RAG
    faithfulness heuristic: the share of DISTINCT response bigrams
    that also occur in the prompt (a response inventing n-grams its
    context never contained scores low).  Counts are exact integers
    and the ratio is ``1e6·n_grounded DIV n_bigrams``; responses under
    two tokens emit NULL (no bigrams to ground).

    The Spark side guards ``sequence(1, n-1)`` behind a size check —
    Spark's sequence() DESCENDS when the bound is below the start,
    whereas the oracle's range() is simply empty — and set sizes come
    from array_distinct/array_intersect (≡ DuckDB list_distinct/
    list_intersect).

    Scale shape: adds ZERO exchanges on top of qa_pairs — bigram sets
    and intersection sizes are per-row JVM expressions inside the same
    stage; no token ever leaves the scan."""
    bg = (
        "CASE WHEN size({t}) >= 2 THEN array_distinct("
        "transform(sequence(1, size({t}) - 1),"
        " i -> concat_ws(' ', element_at({t}, i), element_at({t}, i + 1))))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    base = qa.select(
        "conv_id",
        "turn_idx",
        F.split("prompt", " ").alias("__p"),
        F.split("response", " ").alias("__r"),
    ).select(
        "conv_id",
        "turn_idx",
        F.expr(bg.format(t="__p")).alias("__pb"),
        F.expr(bg.format(t="__r")).alias("__rb"),
    )
    counted = base.select(
        "conv_id",
        "turn_idx",
        F.size("__rb").cast("long").alias("n_bigrams"),
        F.size(F.array_intersect("__rb", "__pb"))
        .cast("long")
        .alias("n_grounded"),
    )
    return counted.select(
        "conv_id",
        "turn_idx",
        "n_bigrams",
        "n_grounded",
        F.when(F.col("n_bigrams") == 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr("CAST(1000000 * n_grounded DIV n_bigrams AS BIGINT)")
        )
        .alias("grounded_e6"),
    )


#: turn_novelty window width — 8 tokens, the same stride-1 geometry as
#: dedup.cross_snapshot_novelty (novelty across releases); here the
#: scope is WITHIN one conversation, across its turns.
NOVELTY_WINDOW = 8


def turn_novelty(
    turns: DataFrame, window: int = NOVELTY_WINDOW
) -> DataFrame:
    """Per-turn novelty: the share of a turn's DISTINCT ``window``-token
    windows whose first occurrence in the conversation is this turn.
    Agent transcripts replay context heavily — tool output echoed back,
    instructions repeated verbatim, retry banners — and an SFT token
    budget wants the turns that ADD content, not the ones that quote
    it.  Turns with fewer than ``window`` tokens carry no windows
    (``n_windows = 0``, share NULL); blank turns likewise.

    Scale shape: window hashes come from
    :func:`ocr_spark.operators.textops._window_hash_col` over the
    HOISTED token array (split runs once per turn, never inside the
    window lambda), so only (conv_id, turn_idx, 32-char hash) rows
    cross the three hash-keyed exchanges (per-turn distinct, first-turn
    window, per-turn count) — turn text never rides a shuffle, and the
    final id join reads a column-pruned source scan."""
    from ocr_spark.operators.textops import _window_hash_col

    base = turns.select(
        "conv_id",
        "turn_idx",
        F.when(
            is_blank(F.coalesce(F.col("text"), F.lit(""))),
            F.expr("CAST(array() AS ARRAY<STRING>)"),
        )
        .otherwise(F.split(F.col("text"), " "))
        .alias("__ts"),
    )
    wins = (
        base.select(
            "conv_id",
            "turn_idx",
            F.explode(_window_hash_col("__ts", window)).alias("__w"),
        )
        .groupBy("conv_id", "turn_idx", "__w")
        .agg(F.lit(1).alias("__one"))
    )
    first = Window.partitionBy("conv_id", "__w")
    flagged = wins.select(
        "conv_id",
        "turn_idx",
        (F.min("turn_idx").over(first) == F.col("turn_idx")).alias(
            "__novel"
        ),
    )
    per_turn = flagged.groupBy("conv_id", "turn_idx").agg(
        F.count(F.lit(1)).cast("long").alias("__nw"),
        F.sum(F.col("__novel").cast("long")).cast("long").alias("__nn"),
    )
    return (
        turns.select("conv_id", "turn_idx")
        .join(per_turn, ["conv_id", "turn_idx"], "left")
        .select(
            "conv_id",
            "turn_idx",
            F.coalesce("__nw", F.lit(0).cast("long")).alias("n_windows"),
            F.coalesce("__nn", F.lit(0).cast("long")).alias("n_novel"),
            F.when(F.col("__nw").isNull(), F.lit(None).cast("long"))
            .otherwise(F.expr("CAST(1000000 * __nn DIV __nw AS BIGINT)"))
            .alias("novelty_e6"),
        )
    )


#: containment probe depth: only conversations of at most this many
#: turns can be flagged as contained, and container prefix chains stop
#: here — bounds the per-conversation prefix work to O(max_len²) digest
#: bytes regardless of conversation length (a 2000-turn conversation
#: still only materializes 64 prefix digests).
CONTAIN_MAX_LEN = 64


def contained_conversations(
    turns: DataFrame, max_len: int = CONTAIN_MAX_LEN
) -> DataFrame:
    """"Continue"-artifact detection: a conversation whose ENTIRE
    ordered (role, text) turn sequence equals a strict prefix of a
    longer conversation is an export artifact (the user hit continue /
    the session was re-exported after more turns) — whole-conversation
    dedup misses it (digests differ) and fork detection only reports
    shared depth, not full containment.  Flags every contained
    conversation with its smallest container conv_id; equal-length
    exact duplicates are :func:`dedup_conversations`'s job and are NOT
    flagged here (containment requires container_n_turns strictly
    greater).

    Scale shape: per-turn digests are map-side md5 (text never
    shuffles); prefix digests explode to at most ``max_len`` rows per
    conversation; the probe is an EQUI-join on (prefix digest, prefix
    length) with the strict-length predicate as a post-filter — never
    a nested loop."""
    arr = _digest_array(turns)
    fulls = arr.filter(F.col("n_turns") <= max_len).select(
        "conv_id",
        "n_turns",
        F.md5(F.array_join("__digs", "")).alias("__full"),
    )
    pres = arr.select(
        F.col("conv_id").alias("container_conv_id"),
        F.col("n_turns").alias("__cn"),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, least({max_len}, size(__digs))),"
                " k -> md5(concat_ws('', slice(__digs, 1, k))))"
            )
        ).alias("__k0", "__p"),
    ).select(
        "container_conv_id",
        "__cn",
        (F.col("__k0") + 1).cast("int").alias("__k"),
        "__p",
    )
    hits = fulls.join(
        pres,
        (F.col("__full") == F.col("__p"))
        & (F.col("n_turns") == F.col("__k"))
        & (F.col("__cn") > F.col("n_turns")),
    )
    best = hits.groupBy("conv_id").agg(
        F.min("container_conv_id").alias("container_conv_id"),
        F.count(F.lit(1)).cast("long").alias("n_containers"),
    )
    return (
        arr.select("conv_id", "n_turns")
        .join(best, "conv_id", "left")
        .select(
            "conv_id",
            "n_turns",
            F.col("container_conv_id").isNotNull().alias("contained"),
            "container_conv_id",
            F.coalesce("n_containers", F.lit(0).cast("long")).alias(
                "n_containers"
            ),
        )
    )


def script_drift(turns: DataFrame) -> DataFrame:
    """Per-conversation script-consistency: label every turn with its
    dominant Unicode script (the shared explicit-codepoint argmax from
    :func:`ocr_spark.operators.textops._script_winner`; ``unknown``
    for turns with no script character), take the conversation
    majority label by TURN COUNT, and report the share of turns that
    disagree — a conversation drifting between scripts mid-dialogue is
    a language-routing / corpus-contamination signal the per-document
    script_detect cannot see.  Majority ties break to the
    lexicographically LARGER label (string-encoded argmax, identical
    in both engines).

    Scale shape: the per-turn label is a map-side JVM regexp argmax;
    the only exchanges are the partial-aggregated (conv_id, 16-char
    label) count and the per-conversation argmax — text never
    shuffles."""
    from ocr_spark.operators.textops import _script_winner

    txt = F.coalesce(F.col("text"), F.lit(""))
    _, total, winner = _script_winner(txt)
    label = F.when(total == 0, F.lit("unknown")).otherwise(
        F.substring(winner, 15, 16)
    )
    lab = turns.select("conv_id", label.alias("script"))
    cl = lab.groupBy("conv_id", "script").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    maj = cl.groupBy("conv_id").agg(
        F.max(
            F.concat(F.lpad(F.col("__n").cast("string"), 12, "0"), "script")
        ).alias("__k"),
        F.sum("__n").cast("long").alias("n_turns"),
    )
    return maj.select(
        "conv_id",
        "n_turns",
        F.substring("__k", 13, 16).alias("majority_script"),
        (
            F.col("n_turns") - F.substring("__k", 1, 12).cast("long")
        ).alias("n_off_script"),
    ).select(
        "conv_id",
        "n_turns",
        "majority_script",
        "n_off_script",
        F.expr("CAST(1000000 * n_off_script DIV n_turns AS BIGINT)").alias(
            "drift_e6"
        ),
    )


def role_stats(turns: DataFrame) -> DataFrame:
    """Per-conversation role balance: turn and whitespace-token counts
    split by role, plus the assistant-verbosity ratio (assistant
    tokens per user token, exact ``1e6·a DIV greatest(u, 1)``) — the
    first-order SFT mixture signal (answer-heavy vs question-heavy
    sources pack very differently).

    Scale shape: one partial-aggregated exchange on conv_id carrying
    six integers per conversation; token counts are map-side."""
    tok = _tok_count(F.col("text"))
    g = turns.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum((F.col("role") == "user").cast("long"))
        .cast("long")
        .alias("n_user"),
        F.sum((F.col("role") == "assistant").cast("long"))
        .cast("long")
        .alias("n_assistant"),
        F.sum(F.when(F.col("role") == "user", tok).otherwise(F.lit(0)))
        .cast("long")
        .alias("user_tokens"),
        F.sum(
            F.when(F.col("role") == "assistant", tok).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("assistant_tokens"),
    )
    return g.select(
        "conv_id",
        "n_turns",
        "n_user",
        "n_assistant",
        "user_tokens",
        "assistant_tokens",
        F.expr(
            "CAST(1000000 * assistant_tokens"
            " DIV greatest(user_tokens, 1) AS BIGINT)"
        ).alias("verbosity_e6"),
    )


#: conversation near-dup geometry: 16 minhashes over 3-consecutive-turn
#: digest shingles, 4 bands of 4 (the repo-standard S-curve, midpoint
#: ~0.7 sequence Jaccard); verified pairs keep >= this exact integer
#: Jaccard.
NEAR_DUP_NUM_HASHES = 16
NEAR_DUP_BAND_SIZE = 4
NEAR_DUP_MIN_JACCARD_E6 = 500000

#: hot-bucket guard: a band bucket with more members than this is
#: dropped from the candidate self-join.  Buckets that large are
#: overwhelmingly EXACT-duplicate families (identical signatures land
#: every copy in every band), which conversation-level exact dedup
#: already catches at linear cost — while the self-join on an uncapped
#: bucket is quadratic (a 1M-copy boilerplate conversation would emit
#: 5·10^11 candidate pairs from one bucket).
NEAR_DUP_MAX_BUCKET = 64


def near_dup_conversations(
    turns: DataFrame,
    num_hashes: int = NEAR_DUP_NUM_HASHES,
    band_size: int = NEAR_DUP_BAND_SIZE,
    min_jaccard_e6: int = NEAR_DUP_MIN_JACCARD_E6,
    max_bucket: int = NEAR_DUP_MAX_BUCKET,
) -> DataFrame:
    """Fuzzy conversation dedup: exact dedup
    (:func:`dedup_conversations`) only catches IDENTICAL turn
    sequences — a re-export with one edited, truncated, or regenerated
    turn escapes it.  Shingle each conversation into
    3-consecutive-turn digest windows, MinHash-LSH band the shingle
    sets (u32 big-endian md5 minima — all JVM built-ins, no pandas
    UDF), and verify band-mates with the EXACT shingle Jaccard
    (integer e6).  Band recall below ~0.7 sequence similarity is
    partial by design (the S-curve); every emitted pair is exactly
    scored.  Conversations shorter than 3 turns sign their full digest
    sequence (unique per distinct short conversation — a constant
    sentinel would bucket every 1-turn conversation with every other).

    Scale shape: per-turn digests are map-side md5 (text never
    shuffles); one conv_id exchange builds the digest sequence; the
    signature is a per-row array_min over the HOISTED shingle array
    and all bands leave in ONE posexplode (a per-band union would
    re-run the aggregation per band); the band join carries
    (band_idx, 32-char key, conv_id); the verify join moves
    digest-shingle arrays (32 B per turn) only for candidate pairs.
    The shingle frame is persisted (signature and verify both read
    it), as is the small band frame (the self-join would otherwise
    re-run the signature projection per side); both are released with
    the result handle."""
    from ocr_spark.operators.dedup import _own_caches

    arr = _digest_array(turns)
    sh = arr.select(
        "conv_id",
        F.when(
            F.size("__digs") >= 3,
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(__digs) - 2),"
                    " i -> md5(concat_ws('', slice(__digs, i, 3))))"
                )
            ),
        )
        .otherwise(F.array(F.md5(F.array_join("__digs", ""))))
        .alias("__sh"),
    ).persist()
    def _seed_hash(k):
        # closure factory, NOT `lambda s, k=k`: a two-parameter lambda
        # (even with a default) is treated by F.transform as
        # (element, index) and k silently rebinds to the index Column
        return lambda s: F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{k}:"), s)), 1, 8), 16, 10
        ).cast("bigint")

    sig = sh.select(
        "conv_id",
        *[
            F.array_min(F.transform(F.col("__sh"), _seed_hash(k))).alias(
                f"__h{k}"
            )
            for k in range(num_hashes)
        ],
    )
    keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"__h{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                )
            )
            for b in range(num_hashes // band_size)
        ]
    )
    # persisted: the band self-join reads this frame on BOTH sides —
    # without the cache each side re-runs the 16-hash signature
    # projection (4 rows × (conv_id, band_idx, 32-char key) per
    # conversation, far smaller than recomputing 16·|shingles| md5s).
    # The hot-bucket count window shares the self-join's partitioning
    # (same keys), so the guard costs no extra exchange; see
    # NEAR_DUP_MAX_BUCKET for why oversized buckets are dropped.
    wb = Window.partitionBy("band_idx", "band_key")
    bands = (
        sig.select(
            "conv_id", F.posexplode(keys).alias("band_idx", "band_key")
        )
        .withColumn("__bn", F.count(F.lit(1)).over(wb))
        .filter(F.col("__bn") <= max_bucket)
        .drop("__bn")
        .persist()
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band_idx", "band_key"])
        .filter(F.col("x.conv_id") < F.col("y.conv_id"))
        .groupBy(
            F.col("x.conv_id").alias("conv_a"),
            F.col("y.conv_id").alias("conv_b"),
        )
        .agg(F.count(F.lit(1)).cast("int").alias("n_bands"))
    )
    va = sh.select(
        F.col("conv_id").alias("conv_a"), F.col("__sh").alias("__sa")
    )
    vb = sh.select(
        F.col("conv_id").alias("conv_b"), F.col("__sh").alias("__sb")
    )
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("bigint")
    out = (
        cand.join(va, "conv_a")
        .join(vb, "conv_b")
        .withColumn("__i", inter)
        .withColumn(
            "__u",
            (F.size("__sa") + F.size("__sb")).cast("bigint") - F.col("__i"),
        )
        .select(
            "conv_a",
            "conv_b",
            "n_bands",
            F.expr("CAST(1000000 * __i DIV __u AS BIGINT)").alias(
                "jaccard_e6"
            ),
        )
        .filter(F.col("jaccard_e6") >= min_jaccard_e6)
    )
    return _own_caches(out, [sh, bands])


def conversation_clusters(
    turns: DataFrame,
    num_hashes: int = NEAR_DUP_NUM_HASHES,
    band_size: int = NEAR_DUP_BAND_SIZE,
    min_jaccard_e6: int = NEAR_DUP_MIN_JACCARD_E6,
    max_bucket: int = NEAR_DUP_MAX_BUCKET,
) -> DataFrame:
    """The fuzzy-dedup funnel end: connect the verified near-dup pairs
    (:func:`near_dup_conversations`) into components with
    :func:`graph.connected_components` (min-label propagation ended by
    a driver union-find, so any chain length converges) and elect one
    KEEPER per cluster — the conversation with the most turns (near-dups are
    typically truncated or re-exported copies, so the longest
    transcript is the most complete), ties on conv_id asc.  Singletons
    keep themselves.

    Scale shape: the edge frame is pairs-sized, the label frame is one
    row per CONVERSATION, and every round shuffles only (conv_id,
    label) — text is gone before the first round."""
    from ocr_spark.operators.graph import connected_components

    pairs = near_dup_conversations(
        turns, num_hashes, band_size, min_jaccard_e6, max_bucket
    )
    # not persisted: the final query reads it twice (ids, keeper join),
    # and a cache first read there is built once per reference
    stats = (
        turns.groupBy("conv_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_turns"))
    )
    labels = connected_components(
        pairs.select(F.col("conv_a").alias("src"), F.col("conv_b").alias("dst")),
        stats.select(F.col("conv_id").alias("id")),
    ).select(F.col("id").alias("conv_id"), F.col("label").alias("cluster_id"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_turns"), F.asc("conv_id")
    )
    return (
        labels.join(stats, "conv_id")
        .withColumn("__rn", F.row_number().over(w))
        .select(
            "conv_id",
            "cluster_id",
            "n_turns",
            (F.col("__rn") == 1).alias("is_keeper"),
        )
    )


def merge_role_runs(turns: DataFrame) -> DataFrame:
    """ChatML normalization: merge every maximal run of consecutive
    SAME-role turns into one turn (text joined with newlines in turn
    order) and renumber densely.  Chat templates require strict role
    alternation; agent traces routinely emit several assistant turns
    in a row (tool call, tool result commentary, final answer), and
    rendering them as separate messages breaks the template.  Distinct
    from :func:`clean_turns`, which collapses only VERBATIM retry
    repeats — this merges any same-role run regardless of content.

    Runs are numbered by :func:`runs.run_ids` on a NULL-safe role
    change; the run numbering and the per-run groupBy ride ONE conv_id
    exchange, and the ordered concat happens inside the aggregate (no
    second window)."""
    w = conv_window()
    r = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        run_ids(w, changed("role", w)).alias("__run"),
    )
    merged_text = F.array_join(
        ordered_list("turn_idx", F.coalesce("text", F.lit(""))), "\n"
    )
    return (
        r.groupBy("conv_id", "__run")
        .agg(
            F.min("role").alias("role"),
            merged_text.alias("text"),
            F.min("turn_idx").alias("start_turn"),
            F.max("turn_idx").alias("end_turn"),
            F.count(F.lit(1)).cast("bigint").alias("n_merged"),
        )
        .select(
            "conv_id",
            F.col("__run").cast("int").alias("new_turn_idx"),
            "role",
            "text",
            "start_turn",
            "end_turn",
            "n_merged",
        )
    )


def preference_length_bias(qa: DataFrame) -> DataFrame:
    """DPO hygiene audit over :func:`preference_pairs`: does the
    mined preference signal just encode "longer is better"?  A reward
    proxy correlated with response length teaches the tuned model to
    pad — the classic reward-hacking failure — so pipelines gate on
    this before training.  Emits ONE row: pair count, how many pairs
    prefer the longer / shorter / equal-length response, and the
    signed token-length delta sum (chosen − rejected).  All exact
    integers, NO division (signed integer division rounds differently
    across engines — truncation vs floor — so the mean is left to the
    consumer).

    Scale shape: the pair table is one row per repeated prompt
    (broadcast); both sides melt into (pair, ±1) rows so the
    corpus-sized token-count frame is scanned ONCE through a single
    broadcast hash join, then a per-pair delta aggregate and a global
    one-row fold."""
    pairs = preference_pairs(qa)
    toks = qa.select(
        _response_id("conv_id", "turn_idx").alias("__rid"),
        _tok_count(F.col("response")).alias("__nt"),
    )
    melted = pairs.select(
        F.md5("prompt").alias("__pd"),
        _response_id("chosen_conv_id", "chosen_turn_idx").alias("__rid"),
        F.lit(1).cast("bigint").alias("__sign"),
    ).unionByName(
        pairs.select(
            F.md5("prompt").alias("__pd"),
            _response_id("rejected_conv_id", "rejected_turn_idx").alias("__rid"),
            F.lit(-1).cast("bigint").alias("__sign"),
        )
    )
    deltas = (
        toks.join(F.broadcast(melted), "__rid")
        .groupBy("__pd")
        .agg(F.sum(F.col("__sign") * F.col("__nt")).alias("__delta"))
    )
    return deltas.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count(F.when(F.col("__delta") > 0, 1))
        .cast("bigint")
        .alias("chosen_longer"),
        F.count(F.when(F.col("__delta") < 0, 1))
        .cast("bigint")
        .alias("rejected_longer"),
        F.count(F.when(F.col("__delta") == 0, 1))
        .cast("bigint")
        .alias("equal_len"),
        F.sum("__delta").alias("sum_delta_tokens"),
    )


#: sft_manifest packing contract: sequence budget and shard count.
SFT_PACK_BUDGET = 512
SFT_PACK_SHARDS = 64


def sft_manifest(
    turns: DataFrame,
    budget: int = SFT_PACK_BUDGET,
    shards: int = SFT_PACK_SHARDS,
) -> DataFrame:
    """End-to-end SFT data-prep manifest — the transcript-axis
    counterpart of textops.training_manifest, composing the funnel a
    real fine-tune run executes as ONE declarative plan: retry/blank
    cleanup (:func:`clean_turns`) → same-role run merge
    (:func:`merge_role_runs`) → structural gate (opens with a user
    turn AND contains an assistant turn) → ChatML render
    (:func:`render_chat`) → deterministic md5 train-split membership →
    packed-sequence layout.  One row per surviving train conversation
    with its shard, rendered token count (whitespace axis — swap in
    bpe_token_count_expr for subword budgets), and packed position.

    Scale shape: every stage is a one-exchange conv_id dataflow and
    Catalyst chains them on the same partitioning; the merged and
    frame is PERSISTED (it feeds both the gate aggregate and the
    render — a self-derived join that would otherwise duplicate the
    whole text-shuffling subtree; the conversation_tiers pattern), and
    split membership is an INLINE per-row md5 filter (split_u), so
    turn text rides exactly ONE exchange end-to-end (plan-tested); the
    split draw is a per-row md5; packing shards on the conv_id md5 low
    byte (string ids — the numeric-pmod shape of pack_sequences
    doesn't apply) with a per-shard running-sum window, so no global
    serialization."""
    from ocr_spark.operators.dedup import _own_caches
    from ocr_spark.operators.textops import SPLIT_FRACS, split_u

    cleaned = clean_turns(turns).select(
        "conv_id",
        F.col("new_turn_idx").alias("turn_idx"),
        "role",
        "text",
    )
    merged = merge_role_runs(cleaned).select(
        "conv_id",
        F.col("new_turn_idx").alias("turn_idx"),
        "role",
        "text",
    ).persist()
    gate = (
        merged.groupBy("conv_id")
        .agg(
            F.min_by(
                F.coalesce("role", F.lit("")), "turn_idx"
            ).alias("__first"),
            F.max((F.col("role") == "assistant").cast("int")).alias(
                "__has_a"
            ),
        )
        .filter((F.col("__first") == "user") & (F.col("__has_a") == 1))
        .select("conv_id")
    )
    rendered = render_chat(merged.join(gate, "conv_id"))
    # split membership is a PER-ROW md5 draw (textops.split_u) — an
    # inline filter, never a self-join, so the rendered frame is
    # consumed exactly once and text rides no extra exchange
    train = rendered.filter(split_u("conv_id") < SPLIT_FRACS[0])
    from ocr_spark.operators.textops import _md5_bucket

    shard = F.expr(_md5_bucket("conv_id", shards))
    base = train.select(
        "conv_id",
        shard.alias("shard"),
        _tok_count(F.col("rendered")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("conv_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    out = base.withColumn("start_off", off).select(
        "conv_id",
        "shard",
        "n_tokens",
        "start_off",
        F.expr(f"start_off DIV {budget}").alias("seq_idx"),
        (F.col("start_off") % budget).alias("pos_in_seq"),
    )
    return _own_caches(out, [merged])


def decontaminate_conversations(
    turns: DataFrame,
    bench_turns: DataFrame,
    n: int = 5,
    min_convs: int = 5,
) -> DataFrame:
    """Benchmark decontamination for TRANSCRIPTS: flag conversations
    sharing any word ``n``-gram of rendered text with an evaluation
    set of conversations.  Run naively, chat corpora self-contaminate
    through canned boilerplate (retry banners, greetings) that appears
    in thousands of conversations on BOTH sides — so both sides are
    first masked with :func:`boilerplate_turns` (text recurring in
    ``min_convs``+ distinct conversations is dropped), then ChatML-
    rendered, then probed with textops.decontaminate's broadcast
    n-gram overlap.  The order matters and is the point: mask, THEN
    overlap — the pipeline a real eval-leak audit runs.

    Scale shape: the boilerplate COUNT exchanges carry digests only,
    but applying the mask is a (conv_id, turn_idx) join whose probe
    side carries the turn text — corpus text rides that exchange plus
    the render's conv_id exchange (two text shuffles per side); the
    overlap probe then broadcasts the eval grams, so the rendered
    corpus never shuffles again."""
    from ocr_spark.operators.textops import decontaminate

    def clean_render(t: DataFrame) -> DataFrame:
        mask = boilerplate_turns(t, min_convs)
        kept = t.join(
            mask.filter(~F.col("is_boilerplate")).select(
                "conv_id", "turn_idx"
            ),
            ["conv_id", "turn_idx"],
        )
        return render_chat(kept).select(
            F.col("conv_id").alias("doc_id"),
            F.col("rendered").alias("text"),
        )

    out = decontaminate(clean_render(turns), clean_render(bench_turns), n=n)
    return out.select(
        F.col("doc_id").alias("conv_id"),
        "n_grams",
        "n_contaminated",
        "contaminated",
    )


#: dynamic batching contract: per-bucket batch size and the token
#: width of a length bucket.
BATCH_SIZE = 8
LEN_BUCKET_TOKENS = 64


def dynamic_batching(
    rendered: DataFrame,
    batch_size: int = BATCH_SIZE,
    bucket_tokens: int = LEN_BUCKET_TOKENS,
) -> DataFrame:
    """Length-bucketed batch assembly (dynamic batching): group
    rendered conversations into training batches of ``batch_size``
    WITHIN token-length buckets (bucket = n_tokens DIV
    ``bucket_tokens``), ordered inside each bucket by the
    deterministic md5(conv_id) shuffle key — the padding-minimizing
    batcher every variable-length trainer runs (batching a 40-token
    chat with a 4000-token one pads 99%).  Each row carries its batch
    coordinates and the batch's exact padding waste:
    ``batch_size·max(n_tokens) − Σ n_tokens`` over the batch (the last
    partial batch of a bucket pads to its own max over its actual
    rows).  All-integer, engine-exact.

    Scale shape: ONE exchange on the length bucket; the row_number and
    both batch aggregates (max, sum via a window keyed on the batch)
    ride that partitioning.  Buckets are capped in count by the
    longest conversation, not corpus size; within a bucket the order
    key is an md5, so hot buckets still sort distributed."""
    base = rendered.select(
        "conv_id",
        _tok_count(F.col("rendered")).alias("n_tokens"),
        F.md5("conv_id").alias("__key"),
    ).withColumn(
        "len_bucket",
        F.expr(f"CAST(n_tokens DIV {bucket_tokens} AS INT)"),
    )
    w = Window.partitionBy("len_bucket").orderBy("__key", "conv_id")
    placed = (
        base.withColumn("__rn", F.row_number().over(w) - 1)
        .withColumn(
            "batch_idx", F.expr(f"CAST(__rn DIV {batch_size} AS INT)")
        )
        .withColumn("pos_in_batch", F.col("__rn") % batch_size)
    )
    wb = Window.partitionBy("len_bucket", "batch_idx")
    return placed.select(
        "conv_id",
        "n_tokens",
        "len_bucket",
        "batch_idx",
        "pos_in_batch",
        (
            F.count(F.lit(1)).over(wb) * F.max("n_tokens").over(wb)
            - F.sum("n_tokens").over(wb)
        )
        .cast("long")
        .alias("batch_pad_tokens"),
    )


def context_cost(turns: DataFrame) -> DataFrame:
    """Agent API-cost accounting: every assistant turn is one model
    call that re-sends the ENTIRE prior conversation as input and
    emits its own text as output — so a conversation's real token bill
    is quadratic-ish in its length, and long agent sessions dominate
    spend.  Per conversation: call count, exact input tokens
    (Σ over assistant turns of the prefix token sum strictly before
    each), output tokens (Σ assistant turn tokens), and the total.
    The numbers a routing/budget layer gates on before replaying a
    trace for SFT distillation.

    All-integer whitespace tokens (swap in bpe_token_count_expr for
    subword billing); the prefix running sum and the per-conversation
    aggregate ride ONE conv_id exchange."""
    w = conv_window().rowsBetween(Window.unboundedPreceding, -1)
    tok = _tok_count(F.col("text"))
    per = turns.select(
        "conv_id",
        "role",
        tok.alias("__tok"),
        F.coalesce(F.sum(tok).over(w), F.lit(0).cast("bigint")).alias(
            "__pre"
        ),
    )
    is_a = F.col("role") == "assistant"
    return per.groupBy("conv_id").agg(
        F.count(F.when(is_a, 1)).cast("bigint").alias("n_calls"),
        F.sum(F.when(is_a, F.col("__pre")).otherwise(0))
        .cast("bigint")
        .alias("input_tokens"),
        F.sum(F.when(is_a, F.col("__tok")).otherwise(0))
        .cast("bigint")
        .alias("output_tokens"),
    ).select(
        "conv_id",
        "n_calls",
        "input_tokens",
        "output_tokens",
        (F.col("input_tokens") + F.col("output_tokens")).alias(
            "total_tokens"
        ),
    )
