"""Transcript-native operator semantics (ocr_spark.operators.transcript)
plus the kmv_distinct / temperature_mix corpus operators."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ocr_spark.operators import textops, transcript

SF = "/root/testdata/sf0.001"


def _turns(spark, rows):
    return spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text"]
    )


def test_qa_pairs_nearest_preceding_user(spark):
    rows = [
        ("c1", 0, "user", "u1"),
        ("c1", 1, "assistant", "a1"),
        ("c1", 2, "user", "u2"),
        ("c1", 3, "user", "u3"),
        ("c1", 4, "assistant", "a2"),
        ("c1", 5, "assistant", "a3"),
        ("c2", 0, "assistant", "opener with no user before it"),
        ("c2", 1, "user", "u4"),
        ("c2", 2, "assistant", "a4"),
    ]
    out = {
        (r.conv_id, r.turn_idx): (r.prompt, r.response)
        for r in transcript.qa_pairs(_turns(spark, rows)).collect()
    }
    # a2 and a3 both pair with the LAST user turn before them (u3);
    # the c2 opener has no preceding user turn and is dropped
    assert out == {
        ("c1", 1): ("u1", "a1"),
        ("c1", 4): ("u3", "a2"),
        ("c1", 5): ("u3", "a3"),
        ("c2", 2): ("u4", "a4"),
    }


def test_clean_turns_collapses_retry_runs(spark):
    rows = [
        ("c1", 0, "user", "ask"),
        ("c1", 1, "assistant", "retry payload"),
        ("c1", 2, "assistant", "retry payload"),  # verbatim retry
        ("c1", 3, "assistant", "retry payload"),  # verbatim retry
        ("c1", 4, "user", "  "),  # blank → dropped
        ("c1", 5, "user", "retry payload"),  # same text, other role: kept
        ("c1", 6, "assistant", "done"),
    ]
    out = [
        (r.new_turn_idx, r.orig_turn_idx, r.role, r.text)
        for r in transcript.clean_turns(_turns(spark, rows))
        .orderBy("new_turn_idx")
        .collect()
    ]
    assert out == [
        (0, 0, "user", "ask"),
        (1, 1, "assistant", "retry payload"),
        (2, 5, "user", "retry payload"),
        (3, 6, "assistant", "done"),
    ]


def test_validate_roles_counts_violations(spark):
    rows = [
        ("good", 0, "user", "q"),
        ("good", 1, "assistant", "a"),
        ("good", 2, "user", "q2"),
        ("bad", 0, "assistant", "opener"),
        ("bad", 1, "assistant", "again"),
        ("bad", 2, "user", "q"),
        ("bad", 3, "user", "q again"),
    ]
    out = {
        r.conv_id: r
        for r in transcript.validate_roles(_turns(spark, rows)).collect()
    }
    g, b = out["good"], out["bad"]
    assert (g.n_turns, g.n_violations, g.first_bad_idx) == (3, 0, None)
    assert g.starts_with_user and g.valid
    assert (b.n_turns, b.n_violations, b.first_bad_idx) == (4, 2, 1)
    assert not b.starts_with_user and not b.valid


def test_loss_mask_offsets(spark):
    rows = [
        ("c1", 0, "user", "one two three"),  # tokens 0..3
        ("c1", 1, "assistant", "four five"),  # span [3, 5)
        ("c1", 2, "user", ""),  # zero tokens
        ("c1", 3, "assistant", "six"),  # span [5, 6)
        ("c2", 0, "assistant", "solo reply"),  # span [0, 2)
        ("c2", 1, "assistant", ""),  # empty assistant → dropped
    ]
    out = {
        (r.conv_id, r.turn_idx): (r.start_tok, r.end_tok)
        for r in transcript.loss_mask(_turns(spark, rows)).collect()
    }
    assert out == {
        ("c1", 1): (3, 5),
        ("c1", 3): (5, 6),
        ("c2", 0): (0, 2),
    }


def test_kmv_small_group_is_exact(spark):
    df = spark.createDataFrame(
        [("g1", "a b c b a"), ("g1", "c d"), ("g2", "x y")],
        ["source", "text"],
    )
    out = {r.source: r for r in textops.kmv_distinct(df).collect()}
    # below k distinct hashes the sketch IS the exact count
    assert out["g1"].n_v == 4 and out["g1"].est_distinct == 4
    assert out["g1"].exact_distinct == 4 and out["g1"].vk is None
    assert out["g2"].est_distinct == 2


def test_kmv_estimate_tracks_exact_at_corpus_scale(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = textops.kmv_distinct(docs).collect()
    assert rows
    for r in rows:
        if r.n_v >= 64:
            assert r.vk is not None
            # k=64 KMV: ~12.7% std error; 1.6× is a >3-sigma envelope
            assert r.exact_distinct / 1.6 <= r.est_distinct <= r.exact_distinct * 1.6
        else:
            assert r.est_distinct == r.n_v


def test_temperature_mix_flattens_head_domain(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.when(F.col("doc_id") % 100 < 50, F.lit("dom_a"))
        .when(F.col("doc_id") % 100 < 75, F.lit("dom_b"))
        .otherwise(F.lit("dom_c"))
        .alias("domain"),
    )
    n = docs.count()
    out = textops.temperature_mix(docs)
    rows = out.collect()
    # budget respected and ranks dense within each domain target
    assert len(rows) <= n // 2
    per = {}
    for r in rows:
        assert 1 <= r.rank <= r.target
        per[r.domain] = max(per.get(r.domain, 0), r.rank)
    # every domain fills its target exactly (targets ≤ domain size here)
    targets = {r.domain: r.target for r in rows}
    assert per == targets
    # sqrt weighting: the 50% head domain's output share drops toward
    # sqrt-proportional (~41% of a 3-domain 50/25/25 split), the tail rises
    total = sum(targets.values())
    in_share = {"dom_a": 0.50, "dom_b": 0.25, "dom_c": 0.25}
    w = {d: math.sqrt(s) for d, s in in_share.items()}
    for d, t in targets.items():
        expect = w[d] / sum(w.values())
        assert abs(t / total - expect) < 0.03
    assert targets["dom_a"] / total < 0.45  # < input's 50% head share


def test_trim_context_keeps_fitting_suffix(spark):
    rows = [
        ("c1", 0, "user", "w " * 99 + "w"),  # 100 tokens
        ("c1", 1, "assistant", "a b c d e"),  # 5 tokens
        ("c1", 2, "user", "x y z"),  # 3 tokens
        ("c2", 0, "user", "t " * 199 + "t"),  # 200 tokens > budget
    ]
    out = {
        (r.conv_id, r.turn_idx): r.tokens_to_end
        for r in transcript.trim_context(
            _turns(spark, rows), budget_tokens=10
        ).collect()
    }
    # only the last two c1 turns fit the 10-token budget (8 total);
    # the oversized c2 opener cannot fit at all
    assert out == {("c1", 1): 8, ("c1", 2): 3}


def test_dedup_conversations_exact_sequences(spark):
    rows = [
        ("c1", 0, "user", "hi"),
        ("c1", 1, "assistant", "hello"),
        ("c2", 0, "user", "hi"),
        ("c2", 1, "assistant", "hello"),  # exact dup of c1
        ("c3", 0, "user", "hi"),
        ("c3", 1, "user", "hello"),  # same texts, different role: unique
        ("c4", 0, "user", "hi"),  # prefix only: unique
    ]
    out = {
        r.conv_id: r
        for r in transcript.dedup_conversations(_turns(spark, rows)).collect()
    }
    assert not out["c1"].is_dup and out["c1"].canonical_conv_id == "c1"
    assert out["c2"].is_dup and out["c2"].canonical_conv_id == "c1"
    assert out["c1"].digest == out["c2"].digest
    assert not out["c3"].is_dup and not out["c4"].is_dup
    assert len({r.digest for r in out.values()}) == 3
    assert out["c4"].n_turns == 1


def test_dedup_conversations_null_text_parity(spark):
    # NULL role/text coalesce to '' before hashing (review finding:
    # concat_ws silently SKIPS NULLs — Spark would digest only the role
    # while the SQL replay drops the whole turn)
    import duckdb
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
        ]
    )
    rows = [
        ("c1", 0, "user", None),
        ("c1", 1, "assistant", "a b"),
        ("c2", 0, None, None),
    ]
    got = {
        r.conv_id: r.digest
        for r in transcript.dedup_conversations(
            spark.createDataFrame(rows, schema)
        ).collect()
    }
    want = {
        r[0]: r[1]
        for r in duckdb.sql(
            "SELECT conv_id, md5(string_agg(md5(coalesce(role, '')"
            " || chr(31) || coalesce(text, '')), '' ORDER BY turn_idx))"
            " FROM (VALUES ('c1', 0, 'user', NULL),"
            " ('c1', 1, 'assistant', 'a b'), ('c2', 0, NULL, NULL))"
            " t(conv_id, turn_idx, role, text) GROUP BY conv_id"
        ).fetchall()
    }
    assert got == want


def test_preference_pairs_argmax_argmin_and_tie_drop(spark):
    qa = spark.createDataFrame(
        [
            ("c1", 1, "p1", "the a of and to in is it for on with as at by"),
            ("c2", 1, "p1", "zzz@@@"),
            ("c3", 1, "p1", "a mid quality line of text here"),
            ("c4", 1, "p2", "same response text"),
            ("c5", 1, "p2", "same response text"),  # tie → no signal
        ],
        ["conv_id", "turn_idx", "prompt", "response"],
    )
    out = {r.prompt: r for r in transcript.preference_pairs(qa).collect()}
    assert set(out) == {"p1"}  # the all-tie prompt emits nothing
    r = out["p1"]
    qe4 = {
        x["__rid"]: x["qe4"]
        for x in textops.quality_e4(
            qa.select(
                F.concat_ws("#", "conv_id", "turn_idx").alias("__rid"),
                F.col("response").alias("text"),
            ),
            id_col="__rid",
        ).collect()
    }
    p1 = {k: v for k, v in qe4.items() if k.split("#")[0] in ("c1", "c2", "c3")}
    # chosen/rejected match the integer-score extremes, margin positive
    assert qe4[f"{r.chosen_conv_id}#1"] == max(p1.values())
    assert qe4[f"{r.rejected_conv_id}#1"] == min(p1.values())
    assert r.margin_e4 == max(p1.values()) - min(p1.values())
    assert r.margin_e4 > 0


def test_preference_responses_keyed_on_the_pair_not_a_joined_string(spark):
    # ("x#5", NULL) and ("x", 5) are two responses; a "#"-joined key
    # (concat_ws skips the NULL) reads both as "x#5" and cross-joins their
    # quality scores
    qa = spark.createDataFrame(
        [
            ("x#5", None, "p", "the a of and to in is it for on with as at by"),
            ("x", 5, "p", "zzz@@@"),
        ],
        "conv_id string, turn_idx int, prompt string, response string",
    )
    (r,) = transcript.preference_pairs(qa).collect()
    assert (r.chosen_conv_id, r.chosen_turn_idx) == ("x#5", None)
    assert (r.rejected_conv_id, r.rejected_turn_idx) == ("x", 5)
    (b,) = transcript.preference_length_bias(qa).collect()
    assert (b.n_pairs, b.chosen_longer, b.sum_delta_tokens) == (1, 1, 14 - 1)


def test_dedup_keep_best_one_keeper_per_cluster(spark):
    from ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = dedup.dedup_keep_best(docs).collect()
    assert len(rows) == docs.count()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert any(len(v) > 1 for v in by_cluster.values())  # real clusters
    for members in by_cluster.values():
        keepers = [m for m in members if m.keep]
        assert len(keepers) == 1
        k = keepers[0]
        # the keeper is the quality argmax, ties by smallest doc_id
        assert all(
            (k.qe4, -k.doc_id) >= (m.qe4, -m.doc_id) or k.qe4 > m.qe4
            for m in members
        )
        assert k.qe4 == max(m.qe4 for m in members)
        assert k.doc_id == min(
            m.doc_id for m in members if m.qe4 == k.qe4
        )


def test_hll_registers_match_reference_python(spark):
    import hashlib

    df = spark.createDataFrame(
        [("g1", "alpha beta gamma beta"), ("g1", "delta alpha"), ("g2", "x y z")],
        ["source", "text"],
    )
    out = {r.source: r for r in textops.hll_distinct(df).collect()}

    def ref(tokens):
        regs = {}
        for t in tokens:
            v = int.from_bytes(hashlib.md5(t.encode()).digest()[:4], "big")
            reg, rem = v >> 26, v & ((1 << 26) - 1)
            rank = 27 - rem.bit_length() if rem else 27
            regs[reg] = max(regs.get(reg, 0), rank)
        pd_ = sum(1 << (27 - m) for m in regs.values())
        denom = pd_ + (64 - len(regs)) * (1 << 27)
        est = textops.HLL_ALPHA_NUM * (1 << 27) // denom // 1_000_000
        return len(regs), denom, est

    n1, d1, e1 = ref(["alpha", "beta", "gamma", "delta"])
    assert (out["g1"].n_regs, out["g1"].denom, out["g1"].est_distinct) == (n1, d1, e1)
    assert out["g1"].exact_distinct == 4
    n2, d2, e2 = ref(["x", "y", "z"])
    assert (out["g2"].n_regs, out["g2"].denom, out["g2"].est_distinct) == (n2, d2, e2)


def test_hll_estimate_tracks_exact_at_corpus_scale(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = textops.hll_distinct(docs).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_regs <= 64
        if r.exact_distinct >= 160:
            # above the small-range regime (2.5m): raw estimate, ~13% σ
            assert r.exact_distinct / 2 <= r.est_distinct <= r.exact_distinct * 2
        else:
            # small-range regime: the raw estimate biases high by design;
            # n_regs is emitted exactly so the consumer-side linear
            # counting m·ln(m/zeros) recovers the cardinality
            lc = 64 * math.log(64 / (64 - r.n_regs))
            assert r.exact_distinct / 1.5 <= lc <= r.exact_distinct * 1.5
            assert r.est_distinct >= r.exact_distinct / 2


def test_audit_truncation_flags(spark):
    rows = [
        # c1: assistant ends clean, then assistant leaves a fence open
        ("c1", 0, "user", "hi there"),
        ("c1", 1, "assistant", "all done."),
        ("c1", 2, "assistant", "let me write ```python code"),
        # c2: empty assistant turn + user turn only -> no flags, last NULL
        ("c2", 0, "assistant", ""),
        ("c2", 1, "user", "no punct here"),
        # c3: balanced fences but no final punctuation -> truncated
        ("c3", 0, "assistant", "```a``` result"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "text"])
    out = {r.conv_id: r for r in transcript.audit_truncation(df).collect()}
    c1 = out["c1"]
    assert (c1.n_turns, c1.n_empty, c1.n_assistant, c1.n_truncated) == (3, 0, 2, 1)
    assert c1.last_assistant_truncated is True
    c2 = out["c2"]
    assert (c2.n_empty, c2.n_truncated) == (1, 0)
    assert c2.last_assistant_truncated is None
    c3 = out["c3"]
    assert c3.n_truncated == 1 and c3.last_assistant_truncated is True


def test_grounding_score_hand_values(spark):
    qa = spark.createDataFrame(
        [
            # response bigrams: {a b, b c, c d}; prompt has {a b, b c}
            ("c1", 1, "x a b c y", "a b c d"),
            # single-token response: no bigrams -> NULL ratio
            ("c1", 3, "a b", "solo"),
            # fully grounded
            ("c2", 1, "p q r", "p q"),
        ],
        ["conv_id", "turn_idx", "prompt", "response"],
    )
    out = {
        (r.conv_id, r.turn_idx): r
        for r in transcript.grounding_score(qa).collect()
    }
    r1 = out[("c1", 1)]
    assert (r1.n_bigrams, r1.n_grounded) == (3, 2)
    assert r1.grounded_e6 == 1_000_000 * 2 // 3
    r2 = out[("c1", 3)]
    assert r2.n_bigrams == 0 and r2.grounded_e6 is None
    r3 = out[("c2", 1)]
    assert (r3.n_grounded, r3.grounded_e6) == (1, 1_000_000)


def test_blank_is_one_definition_on_both_engines(spark):
    import duckdb

    texts = [
        "", " ", "\u00a0", "\u3000", " \u00a0\u3000 ", "\u2009\u202f\u205f\u1680",
        "\t", "\n", "\u200b", "x", " x\u3000", None,
    ]
    want = [True] * 6 + [False] * 5 + [None]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got = [r.b for r in df.select("i", transcript.is_blank(F.col("text")).alias("b")).orderBy("i").collect()]
    duck = duckdb.execute(
        f"SELECT {transcript.blank_sql('text')}"
        " FROM (SELECT unnest($1) AS text, unnest($2) AS i) ORDER BY i",
        [texts, list(range(len(texts)))],
    ).fetchall()
    assert got == want
    assert [b for (b,) in duck] == want


def test_boilerplate_turns_flags_cross_conv_repeats(spark):
    rows = []
    for c in range(6):
        rows.append((f"c{c}", 0, "assistant", "Hello! How can I help?"))
        rows.append((f"c{c}", 1, "user", f"unique question {c}"))
    rows.append(("c0", 2, "assistant", ""))       # blank: never counted
    rows.append(("c1", 2, "assistant", None))     # NULL text == blank
    # whitespace-only is blank too, as in conversation_tiers, even when
    # it recurs in >= 5 conversations
    rows += [(f"c{c}", 3, "assistant", "   ") for c in range(6)]
    turns = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text"]
    )
    out = {
        (r.conv_id, r.turn_idx): r
        for r in transcript.boilerplate_turns(turns, min_convs=5).collect()
    }
    assert len(out) == len(rows)
    greet = out[("c3", 0)]
    assert greet.n_convs == 6 and greet.is_boilerplate
    uniq = out[("c3", 1)]
    assert uniq.n_convs == 1 and not uniq.is_boilerplate
    blank = out[("c0", 2)]
    assert blank.n_convs == 0 and not blank.is_boilerplate
    nulltext = out[("c1", 2)]
    assert nulltext.n_convs == 0 and not nulltext.is_boilerplate
    spaces = out[("c4", 3)]
    assert spaces.n_convs == 0 and not spaces.is_boilerplate


def test_boilerplate_turns_distinct_convs_not_occurrences(spark):
    # 5 repeats inside ONE conversation must not flag at min_convs=2
    rows = [("c0", i, "assistant", "same text") for i in range(5)]
    rows.append(("c1", 0, "assistant", "same text"))
    turns = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text"]
    )
    out = transcript.boilerplate_turns(turns, min_convs=3).toPandas()
    assert (out.n_convs == 2).all()
    assert not out.is_boilerplate.any()


def test_flag_refusals_rate_and_phrases(spark):
    rows = [
        ("c1", 0, "user", "I'm sorry I was late"),      # user: never flags
        ("c1", 1, "assistant", "I'm sorry, I can't help with that."),
        ("c1", 2, "user", "why not"),
        ("c1", 3, "assistant", "Sure: as an AI language model here"),
        ("c1", 4, "assistant", "here is the real answer"),
        ("c2", 0, "user", "hello"),                     # no assistant turns
        ("c3", 0, "assistant", "I CANNOT do that"),     # case-insensitive
    ]
    out = {
        r.conv_id: r
        for r in transcript.flag_refusals(_turns(spark, rows)).collect()
    }
    c1 = out["c1"]
    assert (c1.n_assistant, c1.n_refusal) == (3, 2)
    assert c1.refusal_e6 == 1_000_000 * 2 // 3
    c2 = out["c2"]
    assert (c2.n_assistant, c2.n_refusal) == (0, 0)
    assert c2.refusal_e6 is None
    c3 = out["c3"]
    assert (c3.n_refusal, c3.refusal_e6) == (1, 1_000_000)


def test_fork_prefixes_depth_and_share(spark):
    rows = []
    # three conversations share a 2-turn prefix, then diverge
    for c in ("a", "b", "x"):
        rows.append((c, 0, "user", "shared opener"))
        rows.append((c, 1, "assistant", "shared reply"))
        rows.append((c, 2, "user", f"divergent {c}"))
    # a and b ALSO share turn 2... no: make a/b share depth 3
    rows = [r for r in rows if not (r[0] in ("a", "b") and r[1] == 2)]
    rows.append(("a", 2, "user", "same fork"))
    rows.append(("b", 2, "user", "same fork"))
    rows.append(("a", 3, "assistant", "only a"))
    rows.append(("b", 3, "assistant", "only b"))
    rows.append(("solo", 0, "user", "unique"))
    out = {
        r.conv_id: r
        for r in transcript.fork_prefixes(_turns(spark, rows)).collect()
    }
    assert (out["x"].fork_depth, out["x"].fork_convs) == (2, 3)
    assert (out["a"].fork_depth, out["a"].fork_convs) == (3, 2)
    assert (out["b"].fork_depth, out["b"].fork_convs) == (3, 2)
    assert (out["solo"].fork_depth, out["solo"].fork_convs) == (0, 0)


def test_fork_prefixes_depth_cap_and_role_sensitivity(spark):
    # identical text but different role at turn 0 -> no shared prefix
    rows = [
        ("r1", 0, "user", "same"),
        ("r2", 0, "assistant", "same"),
    ]
    # two convs identical for 10 turns: depth capped at max_depth
    for c in ("L1", "L2"):
        for t in range(10):
            rows.append((c, t, "user", f"turn {t}"))
    out = {
        r.conv_id: r
        for r in transcript.fork_prefixes(
            _turns(spark, rows), max_depth=8
        ).collect()
    }
    assert out["r1"].fork_depth == 0 and out["r2"].fork_depth == 0
    assert out["L1"].fork_depth == 8 and out["L1"].fork_convs == 2


def test_render_chat_order_and_nulls(spark):
    rows = [
        ("c1", 1, "assistant", "world"),   # out-of-order input
        ("c1", 0, "user", "hello"),
        ("c2", 0, "user", None),           # NULL text renders empty
    ]
    out = {
        r.conv_id: r
        for r in transcript.render_chat(_turns(spark, rows)).collect()
    }
    c1 = out["c1"]
    assert c1.rendered == (
        "<|im_start|>user\nhello<|im_end|>\n"
        "<|im_start|>assistant\nworld<|im_end|>\n"
    )
    assert c1.n_turns == 2 and c1.n_chars == len(c1.rendered)
    assert out["c2"].rendered == "<|im_start|>user\n<|im_end|>\n"


def test_conversation_tiers_all_four_tiers(spark):
    rows = []
    # high: 4+ clean alternating turns, no signals
    for t in range(4):
        rows.append(("hi", t, "user" if t % 2 == 0 else "assistant",
                     f"hi text {t}"))
    # mid: only 2 clean turns
    rows += [("mid", 0, "user", "q"), ("mid", 1, "assistant", "a mid")]
    # discard via role violations: 3 of 3 adjacent pairs same-role
    for t in range(4):
        rows.append(("disc", t, "assistant", f"run {t}"))
    # discard via blanks: 2 blank of 3 raw
    rows += [("blnk", 0, "user", ""), ("blnk", 1, "assistant", "  "),
             ("blnk", 2, "user", "only real turn")]
    # low via refusals: 4 alternating turns, both assistant = refusal
    rows += [
        ("ref", 0, "user", "q1"),
        ("ref", 1, "assistant", "I cannot help with this"),
        ("ref", 2, "user", "q2"),
        ("ref", 3, "assistant", "I'm sorry, no."),
    ]
    # retry collapse: identical (role, text) pair collapses -> no viol
    rows += [
        ("rt", 0, "user", "ask"),
        ("rt", 1, "assistant", "same retry"),
        ("rt", 2, "assistant", "same retry"),
        ("rt", 3, "user", "thanks"),
        ("rt", 4, "assistant", "done"),
    ]
    out = {
        r.conv_id: r
        for r in transcript.conversation_tiers(
            _turns(spark, rows)
        ).collect()
    }
    assert out["hi"].tier == "high" and out["hi"].viol_e6 == 0
    assert out["mid"].tier == "mid" and out["mid"].n_clean == 2
    d = out["disc"]
    assert d.tier == "discard" and d.viol_e6 == 1_000_000
    b = out["blnk"]
    assert b.tier == "discard" and b.blank_e6 == 1_000_000 * 2 // 3
    assert b.n_clean == 1 and b.viol_e6 is None
    r = out["ref"]
    assert r.tier == "low" and r.refusal_e6 == 1_000_000
    rt = out["rt"]
    assert rt.tier == "high" and rt.n_clean == 4 and rt.viol_e6 == 0


def test_conversation_tiers_boilerplate_low(spark):
    rows = []
    # the same canned text in 5 conversations -> every turn boiler,
    # boiler_e6 = 500000 > 300000 -> low (no violations: alternating)
    for c in range(5):
        rows.append((f"b{c}", 0, "user", "welcome to support"))
        rows.append((f"b{c}", 1, "assistant", f"case answer {c}"))
        rows.append((f"b{c}", 2, "user", f"followup {c}"))
        rows.append((f"b{c}", 3, "assistant", f"closing {c}"))
    out = transcript.conversation_tiers(_turns(spark, rows)).collect()
    for r in out:
        assert r.boiler_e6 == 250_000      # 1 of 4 -> under threshold
        assert r.tier == "high"
    # now 2 shared turns of 4 -> 500000 -> low
    rows2 = []
    for c in range(5):
        rows2.append((f"c{c}", 0, "user", "welcome to support"))
        rows2.append((f"c{c}", 1, "assistant", "how can i help"))
        rows2.append((f"c{c}", 2, "user", f"followup {c}"))
        rows2.append((f"c{c}", 3, "assistant", f"closing {c}"))
    out2 = transcript.conversation_tiers(_turns(spark, rows2)).collect()
    for r in out2:
        assert r.boiler_e6 == 500_000 and r.tier == "low"


def test_turn_novelty_first_occurrence_scope(spark):
    ten = "a b c d e f g h i j"
    rows = [
        ("c1", 0, "user", ten),  # 3 windows, all first here
        ("c1", 1, "assistant", ten),  # verbatim replay: 0 novel
        ("c1", 2, "user", "x y"),  # too short: no windows
        ("c1", 3, "assistant", ""),  # blank: no windows
        # reuses t0's first 8-token window, adds two shifted new ones
        ("c1", 4, "assistant", "a b c d e f g h z1 z2"),
        ("c2", 0, "user", ten),  # other conversation: own scope
    ]
    out = {
        (r.conv_id, r.turn_idx): (r.n_windows, r.n_novel, r.novelty_e6)
        for r in transcript.turn_novelty(_turns(spark, rows)).collect()
    }
    assert out == {
        ("c1", 0): (3, 3, 1000000),
        ("c1", 1): (3, 0, 0),
        ("c1", 2): (0, 0, None),
        ("c1", 3): (0, 0, None),
        ("c1", 4): (3, 2, 666666),
        ("c2", 0): (3, 3, 1000000),
    }


def test_contained_conversations_strict_prefix_only(spark):
    pre = [("user", "q1"), ("assistant", "a1"), ("user", "q2")]
    rows = []
    rows += [("c_short", i, r, t) for i, (r, t) in enumerate(pre)]
    # same 3 turns, same length: exact duplicate, NOT containment
    rows += [("c_eq", i, r, t) for i, (r, t) in enumerate(pre)]
    # two strictly longer containers sharing the prefix
    rows += [("c_long", i, r, t) for i, (r, t) in enumerate(pre)]
    rows += [("c_long", 3, "assistant", "a2")]
    rows += [("c_long2", i, r, t) for i, (r, t) in enumerate(pre)]
    rows += [("c_long2", 3, "assistant", "other"), ("c_long2", 4, "user", "q3")]
    rows += [("c_other", 0, "user", "unrelated")]
    out = {
        r.conv_id: (r.contained, r.container_conv_id, r.n_containers)
        for r in transcript.contained_conversations(
            _turns(spark, rows)
        ).collect()
    }
    # c_short and its equal-length twin are both prefixes of the two
    # longer conversations; neither flags the other (strict length)
    assert out["c_short"] == (True, "c_long", 2)
    assert out["c_eq"] == (True, "c_long", 2)
    assert out["c_long"] == (False, None, 0)
    assert out["c_long2"] == (False, None, 0)
    assert out["c_other"] == (False, None, 0)


def test_script_drift_majority_and_ties(spark):
    rows = [
        ("c1", 0, "user", "hello there"),
        ("c1", 1, "assistant", "привет мир"),
        ("c1", 2, "user", "more latin text"),
        ("c1", 3, "assistant", "latin again"),
        ("c1", 4, "user", ""),  # unknown
        # 2 latin vs 2 cyrillic: tie breaks to the LARGER label
        ("c2", 0, "user", "one"),
        ("c2", 1, "assistant", "два слова здесь"),
        ("c2", 2, "user", "two"),
        ("c2", 3, "assistant", "ещё кириллица"),
    ]
    out = {
        r.conv_id: (
            r.n_turns,
            r.majority_script,
            r.n_off_script,
            r.drift_e6,
        )
        for r in transcript.script_drift(_turns(spark, rows)).collect()
    }
    assert out["c1"] == (5, "latin", 2, 400000)
    assert out["c2"] == (4, "latin", 2, 500000)


def test_role_stats_token_split_and_verbosity(spark):
    rows = [
        ("c1", 0, "user", "a b"),
        ("c1", 1, "assistant", "x y z w"),
        ("c1", 2, "system", "ignored role"),
        ("c1", 3, "assistant", ""),  # blank: zero tokens, counted turn
        # no user tokens at all: verbosity divides by greatest(0, 1)
        ("c2", 0, "assistant", "only answers here"),
    ]
    out = {
        r.conv_id: (
            r.n_turns,
            r.n_user,
            r.n_assistant,
            r.user_tokens,
            r.assistant_tokens,
            r.verbosity_e6,
        )
        for r in transcript.role_stats(_turns(spark, rows)).collect()
    }
    assert out["c1"] == (4, 1, 2, 2, 4, 2000000)
    assert out["c2"] == (1, 0, 1, 0, 3, 3000000)


def test_near_dup_bands_surface_one_edit_clone(spark):
    # base: 8 turns -> 6 shingle windows; the clone edits ONLY the
    # last turn, so exactly one window (turns 5-7) differs per side ->
    # intersection 5, union 7, exact Jaccard 5/7 = 714285 e6 (pinned
    # deterministic fixture: this text collides in >= 1 of 4 bands)
    base = [("cA", i, "user" if i % 2 == 0 else "assistant", f"turn {i}")
            for i in range(8)]
    clone = [("cB", i, r, t if i < 7 else "edited tail")
             for (_, i, r, t) in base]
    other = [("cC", i, "user", f"unrelated {i}") for i in range(8)]
    out = transcript.near_dup_conversations(
        _turns(spark, base + clone + other)
    ).collect()
    pairs = {(r.conv_a, r.conv_b): r.jaccard_e6 for r in out}
    assert ("cA", "cB") in pairs
    # exact integer Jaccard: |A ∩ B| = 5, |A ∪ B| = 7
    assert pairs[("cA", "cB")] == 714285
    # the unrelated conversation never pairs
    assert not any("cC" in p for p in pairs)


def test_near_dup_short_conversations_use_full_digest(spark):
    # < 3 turns: the shingle set is the single full-sequence digest —
    # identical 2-turn conversations pair at jaccard 1.0; a 1-turn
    # conversation with different text shares no band key
    rows = [
        ("s1", 0, "user", "hi"), ("s1", 1, "assistant", "yo"),
        ("s2", 0, "user", "hi"), ("s2", 1, "assistant", "yo"),
        ("s3", 0, "user", "different"),
    ]
    out = transcript.near_dup_conversations(_turns(spark, rows)).collect()
    pairs = {(r.conv_a, r.conv_b): (r.n_bands, r.jaccard_e6) for r in out}
    assert pairs == {("s1", "s2"): (4, 1000000)}


def test_conversation_clusters_transitive_chain(spark):
    # pinned deterministic fixture (salt "qq"): band collisions give
    # pairs (cA,cB) and (cB,cC) but NOT (cA,cC) — the component must
    # close transitively through cB; all three share 12 turns so the
    # keeper tie-break falls to conv_id asc (cA)
    A = [("cA", i, "user" if i % 2 == 0 else "assistant", f"qq turn {i}")
         for i in range(12)]
    B = [("cB", i, r, t if i < 10 else f"qq edited tail {i}")
         for (_, i, r, t) in A]
    C = [("cC", i, r, (f"qq edited head {i}" if i < 2 else t))
         for (_, i, r, t) in B]
    D = [("cD", i, "user", f"unrelated {i}") for i in range(6)]
    turns = _turns(spark, A + B + C + D)
    pairs = {(r.conv_a, r.conv_b)
             for r in transcript.near_dup_conversations(turns).collect()}
    assert pairs == {("cA", "cB"), ("cB", "cC")}  # the chain, no shortcut
    out = {r.conv_id: (r.cluster_id, r.is_keeper)
           for r in transcript.conversation_clusters(turns).collect()}
    assert out == {
        "cA": ("cA", True),
        "cB": ("cA", False),
        "cC": ("cA", False),  # united through cB despite no (cA,cC) pair
        "cD": ("cD", True),   # singleton keeps itself and is its keeper
    }


def test_conversation_clusters_keeper_is_longest(spark):
    # pinned fixture (salt "k2"): cE is cA plus one extra turn — the
    # near-dup pair surfaces and the LONGER transcript wins keeper even
    # though cA sorts first
    A = [("cA", i, "user" if i % 2 == 0 else "assistant", f"k2 turn {i}")
         for i in range(12)]
    E = [("cE", i, r, t) for (_, i, r, t) in A] + [
        ("cE", 12, "user", "k2 extra turn")
    ]
    out = {r.conv_id: (r.cluster_id, r.n_turns, r.is_keeper)
           for r in transcript.conversation_clusters(
               _turns(spark, A + E)).collect()}
    assert out == {"cA": ("cA", 12, False), "cE": ("cA", 13, True)}


def test_merge_role_runs_joins_in_order_and_renumbers(spark):
    rows = [
        ("c1", 0, "user", "q1"),
        ("c1", 1, "assistant", "calling tool"),
        ("c1", 2, "assistant", "tool output says 42"),
        ("c1", 3, "assistant", "final answer"),
        ("c1", 4, "user", "thanks"),
        ("c1", 5, "user", None),  # NULL text joins as ''
        # c2 opens with a NULL role — must still start run 0
        ("c2", 0, None, "sys-ish"),
        ("c2", 1, None, "more"),
        ("c2", 2, "user", "q"),
    ]
    out = {
        (r.conv_id, r.new_turn_idx): (
            r.role, r.text, r.start_turn, r.end_turn, r.n_merged
        )
        for r in transcript.merge_role_runs(_turns(spark, rows)).collect()
    }
    assert out == {
        ("c1", 0): ("user", "q1", 0, 0, 1),
        ("c1", 1): (
            "assistant",
            "calling tool\ntool output says 42\nfinal answer",
            1, 3, 3,
        ),
        ("c1", 2): ("user", "thanks\n", 4, 5, 2),
        ("c2", 0): (None, "sys-ish\nmore", 0, 1, 2),
        ("c2", 1): ("user", "q", 2, 2, 1),
    }


def test_near_dup_hot_bucket_guard_drops_exact_dup_family(spark):
    # 70 byte-identical 1-turn conversations share one signature, so
    # every band bucket holds all 70 (> max_bucket=64): the quadratic
    # 2415-pair family is dropped entirely — exact dedup's job — while
    # the small near-dup pair in the same corpus still surfaces
    fam = [(f"f{i:03d}", 0, "user", "identical boilerplate") for i in range(70)]
    A = [("cA", i, "user" if i % 2 == 0 else "assistant", "qq turn %d" % i)
         for i in range(12)]
    B = [("cB", i, r, t if i < 10 else f"qq edited tail {i}")
         for (_, i, r, t) in A]
    out = transcript.near_dup_conversations(
        _turns(spark, fam + A + B)
    ).collect()
    pairs = {(r.conv_a, r.conv_b) for r in out}
    assert pairs == {("cA", "cB")}
    # with the guard lifted the family floods back (sanity of fixture)
    flood = transcript.near_dup_conversations(
        _turns(spark, fam), max_bucket=1000
    ).count()
    assert flood == 70 * 69 // 2


def test_preference_length_bias_counts_and_signed_sum(spark):
    # prompt p1: chosen (quality argmax) is the LONGER response;
    # prompt p2: chosen is the SHORTER one; p3 ties on quality -> no
    # pair. quality_e4 rises with length here (clean prose), so p1/p2
    # winners are known by construction
    qa = spark.createDataFrame(
        [
            ("c1", 1, "p1", "the quick brown fox jumps over the lazy dog"),
            ("c2", 1, "p1", "short reply"),
            ("c3", 1, "p2", "@@ ## $$ %% ^^ && ** (( )) !! ~~ ``"),  # junk, long
            ("c4", 1, "p2", "a clean concise answer"),
            ("c5", 1, "p3", "same text here"),
            ("c6", 1, "p3", "same text here"),
        ],
        ["conv_id", "turn_idx", "prompt", "response"],
    )
    row = transcript.preference_length_bias(qa).collect()[0]
    assert row.n_pairs == 2
    assert row.chosen_longer + row.rejected_longer + row.equal_len == 2
    # cross-check the signed sum against the mined pairs themselves
    pairs = {p.prompt: p for p in transcript.preference_pairs(qa).collect()}
    toks = {r.conv_id: len(r.response.split(" "))
            for r in qa.collect()}
    want = sum(
        toks[p.chosen_conv_id] - toks[p.rejected_conv_id]
        for p in pairs.values()
    )
    assert row.sum_delta_tokens == want


def test_sft_manifest_funnel_gate_and_packing(spark):
    rows = [
        # cGood: user opener, assistant runs merge, blank dropped
        ("cGood", 0, "user", "hello there"),
        ("cGood", 1, "assistant", "step one"),
        ("cGood", 2, "assistant", "step one"),  # verbatim retry: cleaned
        ("cGood", 3, "assistant", "step two"),  # same-role run: merged
        ("cGood", 4, "user", "   "),            # blank: dropped
        # cNoUser: opens with assistant -> gated out
        ("cNoUser", 0, "assistant", "unprompted"),
        ("cNoUser", 1, "user", "late question"),
        ("cNoUser", 2, "assistant", "late answer"),
        # cNoAssist: user monologue -> gated out
        ("cNoAssist", 0, "user", "just thinking aloud"),
    ]
    out = {r.conv_id: r for r in transcript.sft_manifest(
        _turns(spark, rows)).collect()}
    assert set(out) == {"cGood"}
    r = out["cGood"]
    # rendered = '<|im_start|>user\nhello there<|im_end|>\n' +
    #   '<|im_start|>assistant\nstep one\nstep two<|im_end|>\n'
    # whitespace tokens (split on ' ' only): counts spaces+1
    rendered = ("<|im_start|>user\nhello there<|im_end|>\n"
                "<|im_start|>assistant\nstep one\nstep two<|im_end|>\n")
    assert r.n_tokens == len(rendered.split(" "))
    assert r.start_off == 0 and r.seq_idx == 0 and r.pos_in_seq == 0
    assert 0 <= r.shard < 64


def test_decontaminate_conversations_masks_boilerplate_first(spark):
    banner = "connection reset please retry your request now"
    # 6 corpus convs all carry the banner (boilerplate, >= 5 convs);
    # only c0 shares REAL content with the eval conv
    corpus = []
    for i in range(6):
        corpus += [
            (f"c{i}", 0, "user", f"unique question number {i} about topic {i}"),
            (f"c{i}", 1, "assistant", banner),
        ]
    corpus[0] = ("c0", 0, "user", "what is the capital city of france exactly")
    bench = [
        ("e0", 0, "user", "what is the capital city of france exactly"),
        ("e0", 1, "assistant", banner),  # bench has the banner too
    ]
    out = {r.conv_id: r.contaminated for r in
           transcript.decontaminate_conversations(
               _turns(spark, corpus), _turns(spark, bench), min_convs=5
           ).collect()}
    # without the mask the banner 5-grams would flag ALL six convs;
    # with it only the genuine content overlap flags
    assert out == {"c0": True, "c1": False, "c2": False,
                   "c3": False, "c4": False, "c5": False}


def test_dynamic_batching_buckets_batches_and_padding(spark):
    import hashlib

    # 10 convs in bucket 0 (n_tokens < 64), various lengths -> batch 0
    # holds the md5-order first 8, batch 1 the remaining 2
    rendered = spark.createDataFrame(
        [(f"c{i}", "tok " * (i + 2) + "end") for i in range(10)],
        ["conv_id", "rendered"],
    )
    out = {r.conv_id: r for r in transcript.dynamic_batching(
        rendered).collect()}
    assert all(r.len_bucket == 0 for r in out.values())
    order = sorted(out, key=lambda c: (hashlib.md5(c.encode()).hexdigest(), c))
    for pos, cid in enumerate(order):
        assert out[cid].batch_idx == pos // 8
        assert out[cid].pos_in_batch == pos % 8
    # exact padding waste: 8*max - sum over batch 0; 2*max - sum over
    # the partial batch 1 (pads to its OWN max, not the bucket's)
    for bi, size in ((0, 8), (1, 2)):
        members = [out[c] for c in order if out[c].batch_idx == bi]
        toks = [m.n_tokens for m in members]
        want = size * max(toks) - sum(toks)
        assert all(m.batch_pad_tokens == want for m in members)


def test_context_cost_prefix_sum_billing(spark):
    rows = [
        ("c1", 0, "user", "a b c"),          # 3 tokens
        ("c1", 1, "assistant", "d e"),       # call 1: input 3, output 2
        ("c1", 2, "user", ""),               # blank: 0 tokens
        ("c1", 3, "assistant", "f g h i"),   # call 2: input 5, output 4
        ("c2", 0, "user", "never answered"),
    ]
    out = {r.conv_id: r for r in transcript.context_cost(
        _turns(spark, rows)).collect()}
    c1 = out["c1"]
    assert (c1.n_calls, c1.input_tokens, c1.output_tokens,
            c1.total_tokens) == (2, 8, 6, 14)
    c2 = out["c2"]
    assert (c2.n_calls, c2.input_tokens, c2.output_tokens,
            c2.total_tokens) == (0, 0, 0, 0)
