"""Round-4 quality-pipeline operators: Gopher rules, bigram LM score,
DSIR importance weights, composed quality tiers."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_spark.operators import textops


def _docs(spark, texts, langs=None):
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": langs or ["en"] * len(texts),
        }
    )
    return spark.createDataFrame(pdf)


GOOD = (
    "the quick brown fox jumps over a lazy dog and then runs back to"
    " the barn with friends while evening winds blow gently across"
    " open fields where farmers gather their final harvest of golden"
    " wheat before night falls on quiet valleys and distant hills"
    " glow softly under fading light tonight"
)

#: ≥50 words, ALL distinct, passes every Gopher rule → "high" tier.
HIGH_DOC = (
    "the a of and to in is it for on with as at by an sapphire"
    " meadow crystal lantern voyage thunder marble quiet ember"
    " harbor willow summit falcon orchard velvet canyon breeze"
    " timber signal motive branch copper drift ledger anchor"
    " prism tunnel garden hollow spiral vivid magnet jungle"
    " saddle rocket mirror planet forest candle"
)


def test_gopher_rules_each_rule_fires(spark):
    assert len(GOOD.split(" ")) >= 50
    texts = [
        GOOD,                                        # 0: passes
        "too short",                                 # 1: n_words < 50
        GOOD + " #" * 20,                            # 2: symbol ratio
        "\n".join("- " + w for w in GOOD.split(" ")),  # 3: bullet lines
        "\n".join(w + "..." for w in GOOD.split(" ")),  # 4: ellipsis lines
        # 5: numeric-heavy — alpha-word fraction below 0.8
        " ".join(["1234"] * 45 + ["the", "a", "of", "and", "to"]),
    ]
    out = (
        textops.gopher_rules(_docs(spark, texts))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert bool(out.loc[0, "gopher_pass"])
    assert not bool(out.loc[1, "gopher_pass"]) and out.loc[1, "n_words"] < 50
    assert not bool(out.loc[2, "gopher_pass"]) and out.loc[2, "symbol_ratio"] >= 0.1
    assert not bool(out.loc[3, "gopher_pass"]) and out.loc[3, "bullet_frac"] >= 0.9
    assert not bool(out.loc[4, "gopher_pass"]) and out.loc[4, "ellipsis_frac"] >= 0.3
    assert not bool(out.loc[5, "gopher_pass"]) and out.loc[5, "alpha_frac"] <= 0.8


def test_gopher_rules_stopword_and_mean_len(spark):
    no_stop = " ".join(["zebra", "maple", "crow", "stone"] * 15)
    short_words = " ".join(["ab"] * 60)
    out = (
        textops.gopher_rules(_docs(spark, [no_stop, short_words]))
        .toPandas()
        .set_index("doc_id")
    )
    assert not bool(out.loc[0, "gopher_pass"]) and out.loc[0, "n_stopwords"] < 2
    assert not bool(out.loc[1, "gopher_pass"]) and out.loc[1, "mean_word_len"] < 3.0


def test_ngram_lm_score_exact_integer_math(spark):
    # corpus: "a b" x3 and "a c" — P(b|a)=3/4, P(c|a)=1/4
    out = (
        textops.ngram_lm_score(_docs(spark, ["a b", "a b", "a b", "a c"]))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[0, "n_bigrams"] == 1
    assert out.loc[0, "lm_score_micro"] == 750000
    assert out.loc[3, "lm_score_micro"] == 250000
    assert bool(out.loc[0, "is_fluent"]) and bool(out.loc[3, "is_fluent"])


def test_ngram_lm_score_short_doc_zero(spark):
    out = (
        textops.ngram_lm_score(_docs(spark, ["solo", "a b"]))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0, "n_bigrams"] == 0 and out.loc[0, "lm_score_micro"] == 0
    assert not bool(out.loc[0, "is_fluent"])


def test_dsir_bucket_matches_md5_low_byte(spark):
    df = _docs(spark, ["spark"])
    got = df.select(
        F.expr(textops._md5_bucket("text")).alias("b")
    ).collect()[0]["b"]
    want = hashlib.md5(b"spark").digest()[0] % textops.DSIR_BUCKETS
    assert got == want


def test_dsir_weights_prefer_target_like_docs(spark):
    # target tokens {x y z}, raw background tokens {p q r}
    target_like = " ".join(["x", "y", "z"] * 20)
    raw_like = " ".join(["p", "q", "r"] * 20)
    texts = [target_like] * 3 + [raw_like] * 3
    langs = ["en", "en", "en", "de", "de", "de"]
    df = _docs(spark, texts, langs)
    out = (
        textops.dsir_weights(df, df.filter(F.col("lang") == "en"))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert (out.loc[:2, "dsir_logw_micro"] > out.loc[3:, "dsir_logw_micro"].max()).all()
    assert out.loc[0, "selected"] and not bool(out.loc[3, "selected"])
    assert (out["n_tokens"] == 60).all()


def test_quality_tiers_assigns_expected_tiers(spark):
    repetitive = " ".join(["loop"] * 80)
    short = "tiny doc"
    texts = [HIGH_DOC, GOOD, GOOD, repetitive, short]
    df = _docs(spark, texts)
    bench = df.filter(F.col("doc_id") == 99)  # empty eval set
    out = (
        textops.quality_tiers(df, bench)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[0, "tier"] == "high"  # all-distinct words, rules pass
    # first copy of the dup pair is kept with its quality tier;
    # GOOD repeats 'the'/'and' so its dup_word_frac > 0 -> medium
    assert out.loc[1, "tier"] == "medium" and not bool(out.loc[1, "is_dup"])
    assert out.loc[2, "tier"] == "discard" and bool(out.loc[2, "is_dup"])
    assert out.loc[3, "tier"] == "low" and bool(out.loc[3, "is_repetitive"])
    assert out.loc[4, "tier"] == "low"  # fails Gopher word count


def test_corpus_shuffle_is_a_permutation_and_salt_reshuffles(spark):
    from ocr_spark.operators.textops import corpus_shuffle

    df = _docs(spark, [f"doc {i}" for i in range(200)])
    a = corpus_shuffle(df).toPandas()
    assert len(a) == 200 and a["doc_id"].nunique() == 200
    # positions are 1..count within every shard
    for _, g in a.groupby("shard"):
        assert sorted(g["pos"]) == list(range(1, len(g) + 1))
    # deterministic across runs, different under a new epoch salt
    b = corpus_shuffle(df).toPandas().sort_values("doc_id")
    assert (a.sort_values("doc_id").values == b.values).all()
    c = corpus_shuffle(df, salt="epoch1").toPandas().sort_values("doc_id")
    assert not (
        a.sort_values("doc_id")[["shard", "pos"]].values
        == c[["shard", "pos"]].values
    ).all()


def test_corpus_shuffle_guards_and_odd_salts(spark):
    import pytest as _pytest

    from ocr_spark.operators.textops import corpus_shuffle, mixture_sample

    df = _docs(spark, ["a b", "c d", "e f"])
    with _pytest.raises(ValueError, match="divide 256"):
        corpus_shuffle(df, shards=100)
    # quotes/backslashes in the epoch salt must not break or diverge
    # (the salt rides F.lit, never a SQL literal)
    out = corpus_shuffle(df, salt="o'clock\\x").toPandas()
    assert len(out) == 3 and out["doc_id"].nunique() == 3
    df2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["a", "b"], "source": ["s", "s"]})
    )
    out2 = mixture_sample(df2, salt="o'clock\\x").toPandas()
    assert len(out2) == 2 and "__h" not in out2.columns


def test_mixture_sample_copies_and_conservation(spark):
    from ocr_spark.operators.textops import mixture_sample

    # 900 common docs vs 100 rare: w_common < 1 < w_rare
    pdf = pd.DataFrame(
        {
            "doc_id": range(1000),
            "text": ["x"] * 1000,
            "source": ["common"] * 900 + ["rare"] * 100,
        }
    )
    out = mixture_sample(spark.createDataFrame(pdf)).toPandas()
    w = out.groupby("source")["mix_weight"].first()
    assert w["common"] < 1.0 < w["rare"]
    # downsampled domain (w≈0.83): copies in {0,1}; upsampled
    # (w≈2.5): floor(w)=2 plus the Bernoulli → {2,3}
    assert set(out[out.source == "common"]["n_copies"]) <= {0, 1}
    assert set(out[out.source == "rare"]["n_copies"]) <= {2, 3}
    # conservation: E[sum copies] = N; the deterministic draw should
    # land within a loose binomial envelope
    total = out["n_copies"].sum()
    assert 900 <= total <= 1100
    assert (out["sampled"] == (out["n_copies"] > 0)).all()


def test_quality_tiers_contamination_discards(spark):
    df = _docs(spark, [GOOD, GOOD + " unrelated tail"])
    bench = df.filter(F.col("doc_id") == 0)
    out = (
        textops.quality_tiers(df, bench)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # doc 1 shares 5-grams with the bench doc -> contaminated
    assert bool(out.loc[1, "contaminated"]) and out.loc[1, "tier"] == "discard"


def test_url_canonicalize_collapses_variants(spark):
    docs = _docs(
        spark,
        [
            "see http://Example.COM:80/a/b?b=2&a=1#frag here",
            "see http://example.com/a/b?a=1&b=2 too",
            "root https://cdn.example.com:443/ page",
            "root https://cdn.example.com/ page",
            "odd https://host.example.com:8080/x?b=1 keep-port",
        ],
    )
    out = (
        textops.url_canonicalize(docs)
        .toPandas()
        .set_index("canon_url")
        .sort_index()
    )
    assert out.loc["http://example.com/a/b?a=1&b=2", "n_refs"] == 2
    assert out.loc["http://example.com/a/b?a=1&b=2", "n_variants"] == 2
    assert out.loc["http://example.com/a/b?a=1&b=2", "first_doc"] == 0
    assert out.loc["https://cdn.example.com", "n_refs"] == 2
    # non-default port and path case are preserved
    assert "https://host.example.com:8080/x?b=1" in out.index
    assert len(out) == 3


def test_url_canonicalize_path_and_query_preserved(spark):
    docs = _docs(
        spark,
        ["u https://a.example.com/Path/Sub?z=9&a=1&m=5 v"],
    )
    out = textops.url_canonicalize(docs).toPandas()
    # params byte-sorted, path case untouched, trailing path slash kept
    assert out["canon_url"].iloc[0] == "https://a.example.com/Path/Sub?a=1&m=5&z=9"


def test_text_sanitize_nfc_ctrl_and_newlines(spark):
    docs = _docs(
        spark,
        [
            "plain ascii text",
            "combining cafe\u0301 accent",
            "dos\r\nline and mac\rline",
            "ctrl\x01chars\x07here keep\ttab",
            "angstrom \u212b sign",
        ],
    )
    out = textops.text_sanitize(docs).toPandas().set_index("doc_id")
    assert out.loc[0, "text_clean"] == "plain ascii text"
    assert not bool(out.loc[0, "changed"]) and out.loc[0, "n_removed"] == 0
    assert out.loc[1, "text_clean"] == "combining caf\u00e9 accent"
    assert bool(out.loc[1, "changed"])
    assert out.loc[1, "n_removed"] == 0  # NFC composes, removal count is 0
    assert out.loc[2, "text_clean"] == "dos\nline and mac\nline"
    assert out.loc[2, "n_removed"] == 1  # the CRLF pair lost one char
    assert out.loc[3, "text_clean"] == "ctrlcharshere keep\ttab"
    assert out.loc[3, "n_removed"] == 2
    assert out.loc[4, "text_clean"] == "angstrom \u00c5 sign"


def test_vocab_oov_rates_and_tiebreak(spark):
    docs = _docs(
        spark,
        [
            "alpha beta alpha beta",   # all in-vocab at k=2
            "alpha beta gamma delta",  # 2 of 4 OOV
            "omega psi chi phi",       # all OOV
        ],
    )
    out = textops.vocab_oov(docs, k=2).toPandas().set_index("doc_id")
    # counts: alpha=3, beta=3, others=1 → vocab {alpha, beta}
    assert out.loc[0, "n_oov"] == 0 and out.loc[0, "oov_frac"] == 0.0
    assert out.loc[1, "n_oov"] == 2 and out.loc[1, "oov_frac"] == 0.5
    assert out.loc[2, "n_oov"] == 4 and out.loc[2, "oov_frac"] == 1.0
    # tie-break: every token count=1 → token-ascending decides the cut
    tie = _docs(spark, ["delta charlie bravo alpha"])
    t = textops.vocab_oov(tie, k=2).toPandas()
    # vocab = {alpha, bravo}; charlie+delta are OOV
    assert t["n_oov"].iloc[0] == 2


def test_split_assign_stable_and_mostly_train(spark):
    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = textops.split_assign(docs).toPandas().set_index("doc_id")
    b = textops.split_assign(docs).toPandas().set_index("doc_id")
    assert (a["split"] == b["split"]).all()  # rerun-stable
    frac_train = (a["split"] == "train").mean()
    assert 0.96 < frac_train < 0.995
    assert set(a["split"].unique()) <= {"train", "val", "test"}
    # a different salt reshuffles the assignment
    c = textops.split_assign(docs, salt="split1").toPandas().set_index("doc_id")
    assert (a["split"] != c["split"]).any()
    # uniform is the exact dyadic md5-derived value
    import hashlib

    did = int(a.index[7])
    u = int.from_bytes(
        hashlib.md5(f"split0:{did}".encode()).digest()[:4], "little"
    ) / 2**32
    assert a.loc[did, "u"] == u


def test_substring_dedup_cut_keep_first_and_coverage(spark):
    block = "a b c d e f g h"  # exactly one 8-token window
    docs = _docs(
        spark,
        [
            block + " unique zero tail",          # canonical — keeps all
            block + " other one tail",            # loses the block
            "totally different text with no duplicated window at all",
            "short doc",                          # < width → untouched
            block + " " + block,                  # seam windows unique but
        ],                                        # coverage unions to all 16
    )
    out = (
        textops.substring_dedup_cut(docs)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[0, "n_cut"] == 0
    assert out.loc[0, "clean_text"].startswith("a b c d e f g h unique")
    assert out.loc[1, "n_cut"] == 8
    assert out.loc[1, "clean_text"] == "other one tail"
    assert out.loc[2, "n_cut"] == 0 and out.loc[3, "n_cut"] == 0
    assert out.loc[4, "n_cut"] == 16 and out.loc[4, "clean_text"] == ""
    assert out.loc[4, "cut_frac"] == 1.0
    # token accounting: n_tokens is pre-cut size
    assert out.loc[1, "n_tokens"] == 11


def test_substring_dedup_cut_overlap_union(spark):
    # two redundant windows overlapping by 4 tokens cut their UNION,
    # not 2x width
    shared = "p q r s t u v w x y z a"  # 12 tokens → windows at 1..5
    docs = _docs(spark, [shared + " first", shared + " second"])
    out = (
        textops.substring_dedup_cut(docs)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[0, "n_cut"] == 0            # canonical doc intact
    assert out.loc[1, "n_cut"] == 12           # union of 5 windows = 12
    assert out.loc[1, "clean_text"] == "second"


def test_bm25_topk_matches_pure_python(spark):
    import math

    texts = [
        "fast fast fast table",                      # high tf, short
        "fast table scan scan table fast extra pad words here now",
        "table value line order window fast",
        "nothing relevant here at all whatsoever",
        "scan scan scan scan scan",
    ]
    docs = _docs(spark, texts)
    queries = ("fast table scan",)
    out = (
        textops.bm25_topk(docs, queries, k=3)
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    # independent replay of the exact integer contract
    toks = [t.split(" ") for t in texts]
    n, s = len(toks), sum(len(w) for w in toks)
    terms = sorted(set(queries[0].split(" ")))
    scores = {}
    for d, w in enumerate(toks):
        total = 0
        for t in terms:
            tf = w.count(t)
            if not tf:
                continue
            df = sum(1 for ww in toks if t in ww)
            idf_u = math.floor(1e6 * math.log((n - df + 0.5) / (df + 0.5) + 1.0))
            total += (idf_u * tf * 22 * s) // (10 * s * tf + 3 * s + 9 * len(w) * n)
        if total:
            scores[d] = total
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    got = list(zip(out["doc_id"], out["score_micro"]))
    assert got == [(d, sc) for d, sc in want]
    assert list(out["rank"]) == [1, 2, 3]
    assert list(out["query_id"].unique()) == [0]


def test_classifier_score_matches_pure_python(spark):
    import hashlib

    texts = ["the quick brown fox", "data pipeline quality filter", "x"]
    docs = _docs(spark, texts)
    out = textops.classifier_score(docs).toPandas().set_index("doc_id")
    for i, t in enumerate(texts):
        logit = textops.CLF_BIAS_MICRO
        for tok in t.split(" "):
            b = hashlib.md5(tok.encode()).digest()[0] % textops.CLF_BUCKETS
            logit += textops.CLF_WEIGHTS_MICRO[b]
        assert out.loc[i, "logit_micro"] == logit
        assert out.loc[i, "label"] == (logit > 0)
        assert out.loc[i, "n_tokens"] == len(t.split(" "))


def test_cross_snapshot_dedup_flags_prior_content(spark):
    from ocr_spark.operators import dedup

    cur = _docs(spark, ["alpha beta", "gamma delta", "epsilon zeta", "alpha beta"])
    prior = _docs(spark, ["gamma delta", "unrelated prior doc"])
    out = (
        dedup.cross_snapshot_dedup(cur, prior)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert not out.loc[0, "in_prior"]
    assert out.loc[1, "in_prior"]           # exact content carried over
    assert not out.loc[2, "in_prior"]
    assert not out.loc[3, "in_prior"]       # dup within current ≠ prior
    assert len(out) == 4                    # join never duplicates rows


def test_domain_cap_binds_and_is_deterministic(spark):
    import hashlib

    pdf = pd.DataFrame(
        {
            "doc_id": range(100),
            "text": ["t"] * 100,
            "source": [f"dom{i % 4}" for i in range(100)],
        }
    )
    docs = spark.createDataFrame(pdf)
    out = textops.domain_cap(docs, k=7).toPandas()
    assert len(out) == 4 * 7
    assert out.groupby("domain")["rank"].max().eq(7).all()
    # replay the deterministic order in pandas: per domain, the 7 kept
    # ids are the smallest under (md5('cap0:'+id), id)
    for dom, grp in out.groupby("domain"):
        ids = sorted(
            (i for i in range(100) if f"dom{i % 4}" == dom),
            key=lambda i: (hashlib.md5(f"cap0:{i}".encode()).hexdigest(), i),
        )[:7]
        assert sorted(grp["doc_id"]) == sorted(ids)


def test_domain_cap_rejects_string_id_at_plan_time(spark):
    # pmod on a string id would plan fine and fail (or cast silently)
    # only inside the job; the check fires before any action runs
    docs = spark.createDataFrame(
        [("d1", "t", "dom0"), ("7", "t", "dom1")],
        "doc_id string, text string, source string",
    )
    with pytest.raises(TypeError, match="doc_id"):
        textops.domain_cap(docs, k=1)


def _py_winnow(text, k=4, w=4):
    toks = text.split(" ")
    gs = [
        hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
        for i in range(len(toks) - k + 1)
    ]
    kg = [h + f"{i + 1:012d}" for i, h in enumerate(gs)]
    fps = {
        min(kg[j : j + w]) for j in range(max(len(kg) - w + 1, 1)) if kg[j : j + w]
    }
    return {(int(fp[32:]), fp[:32]) for fp in fps}


def test_winnow_fingerprint_matches_pure_python(spark):
    texts = [
        "a b c d e f g h i j",                      # 10 toks, 7 grams
        "one two three four",                       # exactly k tokens
        "short doc",                                # < k → no fingerprints
        "x y z x y z x y z x y z",                  # repetition → dedup
    ]
    out = textops.winnow_fingerprint(_docs(spark, texts)).toPandas()
    for i, t in enumerate(texts):
        got = {
            (r.pos, r.gram_hash)
            for r in out[out.doc_id == i].itertuples()
        }
        want = _py_winnow(t) if len(t.split(" ")) >= 4 else set()
        assert got == want, f"doc {i}"


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    # Schleimer guarantee: a shared token run of >= w+k-1 = 7 tokens
    # must contribute at least one COMMON (hash) fingerprint
    shared = "alpha beta gamma delta epsilon zeta eta"
    a = f"left filler words {shared} tail one"
    b = f"completely different prefix here {shared} other suffix"
    out = textops.winnow_fingerprint(_docs(spark, [a, b])).toPandas()
    h0 = set(out[out.doc_id == 0].gram_hash)
    h1 = set(out[out.doc_id == 1].gram_hash)
    assert h0 & h1


def test_chunk_overlap_matches_pure_python(spark):
    texts = [
        " ".join(f"t{i}" for i in range(150)),   # 3 chunks, short tail
        " ".join(f"t{i}" for i in range(64)),    # exactly one full chunk
        "solo",                                   # single token
        "",                                       # empty text
    ]
    out = textops.chunk_overlap(_docs(spark, texts)).toPandas()
    for d, t in enumerate(texts):
        toks = t.split(" ")
        n = len(toks)
        starts = [
            s
            for s in range(1, max(n, 1) + 1, 48)
            if s == 1 or s <= n - 16
        ]
        rows = out[out.doc_id == d].sort_values("chunk_idx")
        assert list(rows.chunk_idx) == list(range(len(starts)))
        for (_, r), s in zip(rows.iterrows(), starts):
            assert r.start_tok == s
            assert r.n_chunk_tokens == min(64, n - s + 1)
            assert r.chunk_text == " ".join(toks[s - 1 : s - 1 + 64])
    # overlap invariant: chunk i's last 16 tokens == chunk i+1's first 16
    rows = out[out.doc_id == 0].sort_values("chunk_idx")
    c0, c1 = rows.iloc[0].chunk_text.split(" "), rows.iloc[1].chunk_text.split(" ")
    assert c0[-16:] == c1[:16]


def test_script_detect_labels_and_counts(spark):
    texts = [
        "plain english words only",
        "привет мир это тест данных",          # cyrillic dominant
        "mix of latin and 数据清洗流水线处理管道系统设计与实现方案评估",  # cjk wins
        "",                                     # no script chars
        "…!!??",                                # punctuation only
    ]
    out = textops.script_detect(_docs(spark, texts)).toPandas().set_index("doc_id")
    assert out.loc[0, "script"] == "latin" and out.loc[0, "n_latin"] == 21
    assert out.loc[1, "script"] == "cyrillic" and out.loc[1, "n_latin"] == 0
    assert out.loc[2, "script"] == "cjk"
    assert out.loc[2, "n_cjk"] == 22 and out.loc[2, "n_latin"] == 13
    assert out.loc[3, "script"] == "unknown" and out.loc[3, "script_conf"] == 0.0
    assert out.loc[4, "script"] == "unknown"
    assert out.loc[1, "script_conf"] == 1.0
    assert 0 < out.loc[2, "script_conf"] < 1


def test_script_detect_tie_breaks_by_fixed_order(spark):
    # equal latin and cyrillic counts -> earlier range (latin) wins
    out = (
        textops.script_detect(_docs(spark, ["abc где"]))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0, "n_latin"] == 3 and out.loc[0, "n_cyrillic"] == 3
    assert out.loc[0, "script"] == "latin"


def test_snapshot_diff_all_four_classes(spark):
    from ocr_spark.operators import dedup

    cur = _docs(spark, ["same", "edited v2", "brand new"])          # ids 0,1,2
    prior_pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 9],
            "text": ["same", "edited v1", "dropped doc"],
            "lang": ["en"] * 3,
        }
    )
    prior = spark.createDataFrame(prior_pdf)
    out = (
        dedup.snapshot_diff(cur, prior).toPandas().set_index("doc_id").sort_index()
    )
    assert out.loc[0, "status"] == "unchanged"
    assert out.loc[1, "status"] == "changed"
    assert out.loc[2, "status"] == "added"
    assert out.loc[9, "status"] == "removed"
    assert len(out) == 4


def test_chunk_overlap_drops_fully_contained_tail(spark):
    # n=64: start 49 would cover tokens 49..64 — all inside chunk 0 —
    # so exactly ONE chunk; n=65 keeps the tail (token 65 is new)
    t64 = " ".join(f"t{i}" for i in range(64))
    t65 = " ".join(f"t{i}" for i in range(65))
    out = textops.chunk_overlap(_docs(spark, [t64, t65])).toPandas()
    assert len(out[out.doc_id == 0]) == 1
    rows = out[out.doc_id == 1].sort_values("chunk_idx")
    assert len(rows) == 2 and rows.iloc[1].n_chunk_tokens == 17


def test_snapshot_diff_null_text_classifies_by_id(spark):
    from pyspark.sql import types as T

    from ocr_spark.operators import dedup

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    cur = spark.createDataFrame([(0, None), (1, "now text"), (2, None)], schema)
    prior = spark.createDataFrame([(0, "had text"), (1, None), (2, None)], schema)
    out = (
        dedup.snapshot_diff(cur, prior).toPandas().set_index("doc_id").sort_index()
    )
    assert out.loc[0, "status"] == "changed"     # text -> NULL is a change
    assert out.loc[1, "status"] == "changed"     # NULL -> text is a change
    assert out.loc[2, "status"] == "unchanged"   # NULL == NULL (null-safe)


def test_script_detect_custom_id_col(spark):
    pdf = pd.DataFrame({"vec_id": [7], "text": ["hello world"]})
    out = textops.script_detect(
        spark.createDataFrame(pdf), id_col="vec_id"
    ).toPandas()
    assert out.loc[0, "vec_id"] == 7 and out.loc[0, "script"] == "latin"


def test_cross_snapshot_novelty_matches_pure_python(spark):
    from ocr_spark.operators import dedup

    prior_t = " ".join(f"p{i}" for i in range(20))
    cur_texts = [
        prior_t,                                          # fully seen -> 0.0
        " ".join(f"n{i}" for i in range(20)),             # fully new -> 1.0
        prior_t + " tail of fresh content appended here", # partial
        "short doc",                                      # < 8 toks -> 1.0
    ]
    cur = _docs(spark, cur_texts)
    prior = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "text": [prior_t], "lang": ["en"]})
    )
    out = (
        dedup.cross_snapshot_novelty(cur, prior)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    prior_wins = {
        " ".join(prior_t.split(" ")[i : i + 8]) for i in range(20 - 8 + 1)
    }
    for d, t in enumerate(cur_texts):
        toks = t.split(" ")
        wins = [" ".join(toks[i : i + 8]) for i in range(max(len(toks) - 7, 0))]
        novel = sum(1 for w in wins if w not in prior_wins)
        assert out.loc[d, "n_windows"] == len(wins)
        assert out.loc[d, "n_novel"] == novel
        want = 1.0 if not wins else round(novel / len(wins), 4)
        assert out.loc[d, "novelty"] == want
    assert out.loc[0, "novelty"] == 0.0
    assert out.loc[1, "novelty"] == 1.0
    assert 0.0 < out.loc[2, "novelty"] < 1.0
    assert out.loc[3, "novelty"] == 1.0 and out.loc[3, "n_windows"] == 0


def test_chunk_overlap_null_text_emits_nothing(spark):
    # ADVICE r4: split(NULL) -> NULL array, size() = -1, so a NULL-text
    # doc used to emit one chunk with n_chunk_tokens = -1. Now it emits
    # zero rows, matching the oracle's WHERE text IS NOT NULL.
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    df = spark.createDataFrame([(0, "a b c"), (1, None), (2, "")], schema)
    out = textops.chunk_overlap(df).toPandas()
    assert set(out.doc_id) == {0, 2}
    assert (out.n_chunk_tokens >= 1).all()


def test_taxonomy_tag_counts_and_primary(spark):
    texts = [
        "join merge hash scan agg",          # joins 3, scan_io 1, agg 1
        "stream batch stream fast join",     # streaming 3 primary
        "nothing matches here ever",         # no tags at all
        "scan join",                         # tie 1:1 -> earlier topic wins
    ]
    out = textops.taxonomy_tag(_docs(spark, texts)).toPandas()
    d0 = out[out.doc_id == 0].set_index("topic")
    assert d0.loc["joins", "n_hits"] == 3 and bool(d0.loc["joins", "is_primary"])
    assert d0.loc["scan_io", "n_hits"] == 1 and not d0.loc["scan_io", "is_primary"]
    assert set(d0.index) == {"joins", "scan_io", "aggregation"}
    d1 = out[out.doc_id == 1].set_index("topic")
    assert d1.loc["streaming", "n_hits"] == 3 and bool(d1.loc["streaming", "is_primary"])
    assert len(out[out.doc_id == 2]) == 0
    d3 = out[out.doc_id == 3].set_index("topic")
    # 1-1 tie between joins and scan_io: taxonomy order prefers joins
    assert bool(d3.loc["joins", "is_primary"]) and not d3.loc["scan_io", "is_primary"]


def test_taxonomy_keywords_disjoint():
    seen = set()
    for _topic, kws in textops.TAXONOMY:
        assert not (set(kws) & seen)
        seen |= set(kws)


def test_reshard_by_bytes_prefix_sum_exact(spark):
    # the two-phase (bucket + offset) prefix sum must equal the plain
    # sequential layout in global md5-key order
    import hashlib

    import pandas as pd

    from ocr_spark.operators import textops

    pdf = pd.DataFrame(
        {
            "doc_id": range(200),
            "text": ["x" * (37 * (i % 11) + 1) for i in range(200)],
        }
    )
    pdf.loc[5, "text"] = None  # NULL text docs emit nothing
    out = (
        textops.reshard_by_bytes(
            spark.createDataFrame(pdf), target_bytes=512
        )
        .toPandas()
        .set_index("doc_id")
    )
    assert 5 not in out.index and len(out) == 199
    rows = [
        (hashlib.md5(f"reshard:{i}".encode()).hexdigest(), i, len(t))
        for i, t in zip(pdf.doc_id, pdf.text)
        if t is not None
    ]
    off = 0
    for key, i, n in sorted(rows):
        assert out.loc[i, "start_off"] == off
        assert out.loc[i, "n_bytes"] == n
        assert out.loc[i, "out_shard"] == off // 512
        off += n
    # docs never split: every shard except the last overruns by < one doc
    assert out.out_shard.nunique() > 1


def test_lm_perplexity_buckets_tertiles(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    # three fluency strata: repeated common bigrams (high P), mixed,
    # and unique-word docs (every bigram seen once but contexts vary)
    docs = []
    for i in range(30):
        docs.append((i, "the cat sat on the mat " * 4))
    for i in range(30, 60):
        docs.append((i, f"the cat u{i} on v{i} mat w{i} q{i}"))
    for i in range(60, 90):
        docs.append((i, f"a{i} b{i} c{i} d{i} e{i} f{i} g{i}"))
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    out = textops.lm_perplexity_buckets(df).toPandas().set_index("doc_id")
    assert len(out) == 90
    # thresholds are global constants
    assert out.t_low_micro.nunique() == 1 and out.t_high_micro.nunique() == 1
    t_low, t_high = out.t_low_micro.iloc[0], out.t_high_micro.iloc[0]
    assert t_low <= t_high
    # bucket assignment is exactly the threshold comparison
    for _, r in out.iterrows():
        want = (
            "head" if r.lm_score_micro > t_high
            else "middle" if r.lm_score_micro > t_low
            else "tail"
        )
        assert r.ppl_bucket == want
    # all three strata are populated and ordered by score
    assert set(out.ppl_bucket) == {"head", "middle", "tail"}
    assert (
        out[out.ppl_bucket == "head"].lm_score_micro.min()
        > out[out.ppl_bucket == "tail"].lm_score_micro.max()
    )
def test_pagerank_hand_computed(spark):
    # tiny graph: a->b, a->c, b->c; hand-check one iteration
    from ocr_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("a", "b")],  # dup edge deduped
        "src string, dst string",
    )
    r1 = {
        r.node: r.rank_micro
        for r in G.pagerank(edges, iters=1).collect()
    }
    # deg(a)=2, deg(b)=1; r0 = 1e6 each
    # b: 150000 + (17*1e6)//(20*2) = 150000 + 425000
    # c: 150000 + 425000 + (17*1e6)//20 = 150000+425000+850000
    # a: no in-edges -> teleport only
    assert r1 == {"a": 150000, "b": 575000, "c": 1425000}

    # 3 iterations stay integer-exact and include every node
    r3 = {r.node: r.rank_micro for r in G.pagerank(edges).collect()}
    assert set(r3) == {"a", "b", "c"}
    # replay iters 2..3 by hand from r1
    cur = r1
    for _ in range(2):
        nxt = {"a": 150000}
        nxt["b"] = 150000 + (17 * cur["a"]) // (20 * 2)
        nxt["c"] = (
            150000
            + (17 * cur["a"]) // (20 * 2)
            + (17 * cur["b"]) // (20 * 1)
        )
        cur = nxt
    assert r3 == cur


def test_cdc_chunk_dedup_boundaries_and_dups(spark):
    import hashlib

    import pandas as pd

    from ocr_spark.operators import textops

    shared = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        " lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [shared, shared, "tiny", None],
        }
    )
    out = textops.cdc_chunk_dedup(spark.createDataFrame(pdf)).toPandas()
    assert set(out.doc_id) == {0, 1, 2}

    # python replay of the chunking contract
    def chunks(text):
        w = text.split(" ")
        cuts = [
            i
            for i in range(2, len(w) - textops.CDC_WINDOW + 2)
            if hashlib.md5(
                " ".join(w[i - 1 : i - 1 + textops.CDC_WINDOW]).encode()
            ).digest()[0] % textops.CDC_DIVISOR == 0
        ]
        ss = [1] + cuts
        ee = cuts + [len(w) + 1]
        return [
            (s, e - s, hashlib.md5(" ".join(w[s - 1 : e - 1]).encode()).hexdigest())
            for s, e in zip(ss, ee)
        ]

    want = chunks(shared)
    for doc in (0, 1):
        got = out[out.doc_id == doc].sort_values("chunk_idx")
        assert [
            (r.start_tok, r.n_chunk_tokens, r.chunk_hash)
            for r in got.itertuples()
        ] == want
    # identical docs: every chunk duplicated, keep-first on doc 0 only
    d0 = out[out.doc_id == 0]
    d1 = out[out.doc_id == 1]
    assert (d0.n_dup == 2).all() and (d1.n_dup == 2).all()
    assert d0.is_first.all() and not d1.is_first.any()
    # short doc: one chunk spanning everything, unique
    d2 = out[out.doc_id == 2]
    assert len(d2) == 1 and d2.iloc[0].n_chunk_tokens == 1
    assert d2.iloc[0].n_dup == 1 and bool(d2.iloc[0].is_first)


def test_training_manifest_composes_filters(spark):
    import hashlib

    import pandas as pd

    from ocr_spark.operators import textops

    passing = ("the and for with that this from " * 8).strip()  # 56 words
    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            # even ids pass gopher (>=50 words, stopwords); odd fail
            "text": [passing if i % 2 == 0 else "too short" for i in range(40)],
        }
    )
    out = textops.training_manifest(spark.createDataFrame(pdf)).toPandas()
    # only even-id docs that drew a train split survive
    def u(i):
        d = hashlib.md5(f"split0:{i}".encode()).digest()
        return int.from_bytes(d[:4], "little") / 2**32

    want_ids = {i for i in range(0, 40, 2) if u(i) < 0.98}
    assert set(out.doc_id) == want_ids
    # packing invariants within each shard
    for shard, grp in out.groupby("shard"):
        grp = grp.sort_values("doc_id")
        off = 0
        for r in grp.itertuples():
            assert r.start_off == off
            assert r.seq_idx == off // 512 and r.pos_in_seq == off % 512
            off += r.n_tokens


def test_robots_filter_longest_match_semantics(spark):
    from ocr_spark.operators import textops

    urls = [
        (0, "http://h.example.com/private/secret"),     # disallowed
        (1, "http://h.example.com/private/pub/ok"),     # allow overrides
        (2, "http://h.example.com/search?q=x"),         # disallowed
        (3, "http://h.example.com/page/1"),             # allowed by '/'
        (4, "http://h.example.com"),                    # no path -> '/'
        (5, "http://h.example.com/tmp/z#frag"),         # fragment cut
        (6, "http://h.example.com/privateer"),          # NOT /private/
    ]
    df = spark.createDataFrame(urls, "doc_id long, url string")
    out = {r.doc_id: r for r in textops.robots_filter(df).collect()}
    assert not out[0].crawlable and out[0].disallow_len == 9
    assert out[1].crawlable and out[1].allow_len == 13
    assert not out[2].crawlable
    assert out[3].crawlable and out[3].disallow_len == -1
    assert out[4].path == "/" and out[4].crawlable
    assert not out[5].crawlable  # '#frag' excluded from the path
    assert out[6].crawlable      # prefix is /private/ with slash


def test_template_detect_digit_varying_family(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                "Invoice  #123 total 45",      # family A (case+ws+digits)
                "invoice #9 total 00007",      # family A
                "invoice #0 total 0",          # family A
                "a unique document",           # singleton
                "another unique one 5",        # singleton
            ],
        }
    )
    out = (
        textops.template_detect(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(out.n_copies) == [3, 3, 3, 1, 1]
    assert list(out.is_template) == [True, True, True, False, False]
    # canonical = lowest doc_id per family; singletons are their own
    assert list(out.is_canonical) == [True, False, False, True, True]


def test_mojibake_detect_counts_and_repair(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "cafÃ© cafÃ© â€œxâ€™",   # 2x e-acute, open quote, apostrophe
                "clean ascii text",
                "Ã¼ Ã± â€” Ã§",
            ],
        }
    )
    out = (
        textops.mojibake_detect(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(out.n_mojibake) == [4, 0, 4]
    assert list(out.is_damaged) == [True, False, True]
    assert out.repaired[0] == "café café “x’"
    assert out.repaired[1] == "clean ascii text"
    assert out.repaired[2] == "ü ñ — ç"


def test_anchor_text_aggregation(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "html": [
                '<a href="http://a.com/x">Home</a> junk'
                ' <a href="http://a.com/y">home </a>'
                ' <a href="http://b.org/z">docs</a>',
                '<a href="http://a.com/w">home</a> <p>noise</p>',
                '<a href="https://b.org/q">api</a> no anchors here',
            ],
        }
    )
    out = (
        textops.anchor_text(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("domain")
    )
    # a.com: 3 links, all normalize to 'home' (case-fold + trim)
    assert out.loc["a.com"].n_links == 3
    assert out.loc["a.com"].n_distinct_anchors == 1
    assert out.loc["a.com"].top_anchor == "home"
    assert out.loc["a.com"].top_count == 3
    # b.org: http and https both parse; count tie (1,1) breaks to the
    # lexicographically greatest anchor
    assert out.loc["b.org"].n_links == 2
    assert out.loc["b.org"].top_anchor == "docs"
    assert out.loc["b.org"].top_count == 1


def test_pmi_collocations_exact_ratio(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    # "x y" appears 4 times; c(x)=4, c(y)=6, N=18 tokens
    docs = [
        "x y x y z",
        "x y a b c",
        "x y y y a b c d",
    ]
    pdf = pd.DataFrame({"doc_id": range(3), "text": docs})
    out = textops.pmi_collocations(
        spark.createDataFrame(pdf), min_count=3, k=5
    ).toPandas()
    assert list(out["rank"]) == list(range(1, len(out) + 1))
    xy = out[out.bigram == "x y"].iloc[0]
    assert (xy.c12, xy.c1, xy.c2) == (4, 4, 6)
    assert xy.score_micro == 4 * 18 * 1_000_000 // (4 * 6)
    # scores are non-increasing down the ranking
    assert list(out.score_micro) == sorted(out.score_micro, reverse=True)


def test_html_meta_fields_and_missing(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "html": [
                '<head><title>my page</title>'
                '<meta name="description" content="a desc">'
                '<link rel="canonical" href="http://x.com/p"></head>'
                "<body><h1>hi</h1><h1>again</h1></body>",
                "<body>no head at all</body>",
            ],
        }
    )
    out = (
        textops.html_meta(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0].title == "my page"
    assert out.loc[0].meta_description == "a desc"
    assert out.loc[0].canonical_url == "http://x.com/p"
    assert out.loc[0].n_h1 == 2
    assert (out.loc[1][["title", "meta_description", "canonical_url"]] == "").all()
    assert out.loc[1].n_h1 == 0


def test_char_diversity_degenerate_and_short(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["ab" * 100, "the quick brown fox jumps high", "xy"],
        }
    )
    out = (
        textops.char_diversity(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
    )
    # 'abab...': only 'aba' and 'bab' ever occur -> 2 distinct / 198
    assert out.loc[0].n_trigrams == 198
    assert out.loc[0].n_distinct_trigrams == 2
    assert out.loc[0].diversity_micro == 2 * 1_000_000 // 198
    assert bool(out.loc[0].is_degenerate)
    assert not bool(out.loc[1].is_degenerate)
    assert out.loc[1].diversity_micro > 800_000
    # shorter than one trigram: zeros, NOT degenerate
    assert out.loc[2].n_trigrams == 0 and not bool(out.loc[2].is_degenerate)


def test_homoglyph_detect_mixed_script_words(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "login to pаypаl now",   # 1 mixed word
                "plain latin words only",
                "чисто русский текст",            # pure Cyrillic: NOT mixed
            ],
        }
    )
    out = (
        textops.homoglyph_detect(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0].n_mixed_words == 1 and bool(out.loc[0].is_spoofed)
    assert out.loc[1].n_mixed_words == 0 and not bool(out.loc[1].is_spoofed)
    assert out.loc[2].n_mixed_words == 0 and not bool(out.loc[2].is_spoofed)


def test_vocab_drift_exact_frequencies(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    cur = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["a a b c", "a b b d"]})
    )
    prev = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["a a a b"]})
    )
    out = (
        textops.vocab_drift(cur, prev, k=3)
        .toPandas()
        .set_index("token")
    )
    # combined counts: a=6, b=4, c=1, d=1 -> top3 cut keeps a, b, c
    assert set(out.index) == {"a", "b", "c"}
    assert (out.loc["a"].c_cur, out.loc["a"].c_prev) == (3, 3)
    assert out.loc["a"].f_cur_micro == 3 * 1_000_000 // 8
    assert out.loc["a"].f_prev_micro == 3 * 1_000_000 // 4
    assert out.loc["a"].drift_micro == 750_000 - 375_000
    # c absent from prev: coalesced zero
    assert (out.loc["c"].c_prev, out.loc["c"].f_prev_micro) == (0, 0)


def test_dehyphenate_joins_and_wraps(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [
                "the extrac-\ntion pipe-\nline\nworks",
                "no wraps here",
            ],
        }
    )
    out = (
        textops.dehyphenate(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0].n_hyphen_joins == 2
    assert out.loc[0].n_line_wraps == 1
    assert out.loc[0].clean_text == "the extraction pipeline works"
    assert out.loc[1].n_hyphen_joins == 0
    assert out.loc[1].n_line_wraps == 0
    assert out.loc[1].clean_text == "no wraps here"


def test_readability_bands(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [
                "the cat sat. the dog ran.",   # short words: easy
                "extraordinary considerations necessitate "
                "comprehensive reevaluation",  # polysyllabic: difficult
            ],
        }
    )
    out = (
        textops.readability_score(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
    )
    # doc 0: W=6, S=2, syllables: the=1 cat=1 sat.=1 the=1 dog=1 ran.=1
    assert (out.loc[0].n_words, out.loc[0].n_sentences) == (6, 2)
    assert out.loc[0].n_syllables == 6
    exp = 206_835_000 - (1_015_000 * 6) // 2 - (84_600_000 * 6) // 6
    assert out.loc[0].flesch_micro == exp and out.loc[0].band == "easy"
    assert out.loc[1].band == "difficult"


def test_strip_page_furniture_rule(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    pages = []
    for i in range(3):
        pages.append(
            (0, i, f"ACME REPORT\nunique body line {chr(97 + i)}\nPage {i + 1} of 3")
        )
    # single-page doc: identical shape but never stripped (>=2-page floor)
    pages.append((1, 0, "ACME REPORT\nlonely body\nPage 1 of 1"))
    df = spark.createDataFrame(
        pd.DataFrame(pages, columns=["doc_id", "page_idx", "page_text"])
    )
    out = (
        textops.strip_page_furniture(df)
        .toPandas()
        .set_index(["doc_id", "page_idx"])
        .sort_index()
    )
    # header repeats verbatim; footer repeats after digit masking
    for i in range(3):
        r = out.loc[(0, i)]
        assert r.n_lines == 3 and r.n_furniture_lines == 2
        assert r.body_text == f"unique body line {chr(97 + i)}"
    r1 = out.loc[(1, 0)]
    assert r1.n_furniture_lines == 0
    assert r1.body_text == "ACME REPORT\nlonely body\nPage 1 of 1"


def test_table_to_markdown_escape_and_order(spark):
    import pandas as pd

    from ocr_spark.operators import relational

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 0, 1],
                "row_idx": [2, 1, 1],
                "cells": [["c|d", "3"], ["a", "2"], ["x", "9"]],
            }
        )
    )
    out = (
        relational.table_to_markdown(df, ["name", "val"])
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0].n_rows == 2
    assert out.loc[0].markdown == (
        "| name | val |\n| --- | --- |\n| a | 2 |\n| c\\|d | 3 |"
    )
    assert out.loc[1].markdown.endswith("| x | 9 |")


def test_special_token_scrub_counts_and_clean(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [
                "[INST] hello world [/INST] bye <|endoftext|>",
                "nothing special",
            ],
        }
    )
    out = (
        textops.special_token_scrub(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0].n_sentinels == 3
    assert out.loc[0].clean_text == "hello world bye"
    assert out.loc[1].n_sentinels == 0
    assert out.loc[1].clean_text == "nothing special"


def test_fuzzy_title_pairs_block_and_distance(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    pdf = pd.DataFrame(
        {
            "title_id": [0, 1, 2, 3],
            "title": [
                "spark engine guide",
                "spark engine guide v2",   # dist 3: pair with 0
                "spark engine manual xl",  # same block, dist > 3: no pair
                "duckdb engine guide",     # different 8-char block
            ],
        }
    )
    out = textops.fuzzy_title_pairs(spark.createDataFrame(pdf)).toPandas()
    pairs = set(zip(out.id_a, out.id_b))
    assert (0, 1) in pairs
    assert all(p == (0, 1) for p in pairs)
    assert out[(out.id_a == 0) & (out.id_b == 1)].dist.iloc[0] == 3


def test_sentence_chunk_never_splits_sentences(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    # 3 sentences of 4 tokens; chunk size 6 -> sentence 2 (start 4)
    # lands in chunk 0, sentence 3 (start 8) in chunk 1
    text = "a b c one. d e f two. g h i three."
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": [text]}))
    out = (
        textops.sentence_chunk(df, n=6, max_sent=100)
        .toPandas()
        .set_index("chunk_id")
        .sort_index()
    )
    assert out.loc[0].chunk_text == "a b c one. d e f two."
    assert out.loc[0].n_sentences == 2 and out.loc[0].n_tokens == 8
    assert out.loc[1].chunk_text == "g h i three."

    # unpunctuated text: the runaway guard forces boundaries
    long = " ".join(f"t{i}" for i in range(30))
    df2 = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": [long]}))
    out2 = textops.sentence_chunk(df2, n=12, max_sent=6).toPandas()
    assert len(out2) > 1  # without the guard this would be one chunk
    assert out2.n_tokens.sum() == 30


def test_markdown_strip_unwraps_decorations(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    out = (
        textops.markdown_strip(
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "doc_id": [0, 1],
                        "text": [
                            textops.MD_SAMPLE,
                            "plain prose stays byte identical",
                        ],
                    }
                )
            )
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[0].n_links == 1 and out.loc[0].n_headings == 1
    assert out.loc[0].plain_text == (
        "release notes\nbold and em see the docs now\nitem one\nitem two"
    )
    assert out.loc[1].n_links == 0 and out.loc[1].n_headings == 0
    assert out.loc[1].plain_text == "plain prose stays byte identical"


def test_date_harvest_orders_by_value_not_position(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    out = (
        textops.date_harvest(
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "doc_id": [0, 1],
                        "text": [
                            "seen 2024-01-05 then earlier 2023-11-30 end",
                            "no dates at all",
                        ],
                    }
                )
            )
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[0].n_dates == 2
    # later-appearing date is the lexicographic (= chronological) min
    assert out.loc[0].first_date == "2023-11-30"
    assert out.loc[0].last_date == "2024-01-05"
    assert out.loc[1].n_dates == 0
    assert out.loc[1].first_date is None and out.loc[1].last_date is None


def test_boilerplate_classify_rules_and_propagation(spark):
    # doc 0: para0 good (stopword-dense), para1 near (no stopwords,
    # long enough), para2 bad (link-dense), para3 short next to
    # nothing good -> bad
    paras = [
        (0, 0, "the cat sat on a mat in the sun by a tree yes"),
        (0, 1, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (0, 2, "click http://x http://y http://z here now"),
        (0, 3, "tail words only"),
        # doc 1: short paragraph adjacent to a good one -> promoted
        (1, 0, "the dog and the cat in a box saw the bird of prey"),
        (1, 1, "tiny tail bit"),
    ]
    pdf = pd.DataFrame(paras, columns=["doc_id", "para_idx", "para_text"])
    out = textops.boilerplate_classify(spark.createDataFrame(pdf))
    rows = {
        (r["doc_id"], r["para_idx"]): r for r in out.collect()
    }
    assert rows[(0, 0)]["cf_class"] == "good"
    assert rows[(0, 1)]["cf_class"] == "near"
    assert rows[(0, 2)]["cf_class"] == "bad"
    assert rows[(0, 3)]["cf_class"] == "short"
    # near para1 neighbours good para0 -> promoted; short para3
    # neighbours only bad para2 -> demoted
    assert rows[(0, 1)]["final_class"] == "good"
    assert rows[(0, 3)]["final_class"] == "bad"
    assert rows[(1, 1)]["final_class"] == "good" and rows[(1, 1)]["kept"]


def test_inverted_index_pruning_and_postings(spark):
    texts = (
        ["shared rare_a common"] * 2
        + ["shared common"] * 3
        + ["hapax common shared"]
    )
    out = textops.inverted_index(_docs(spark, texts))
    rows = {r["token"]: r for r in out.collect()}
    # 'common'/'shared' in all 6 docs -> stop cut; 'hapax' df=1 -> cut
    assert "common" not in rows and "shared" not in rows
    assert "hapax" not in rows
    assert rows["rare_a"]["doc_freq"] == 2
    assert rows["rare_a"]["postings_head"] == "0,1"
    assert rows["rare_a"]["total_tf"] == 2


def test_kwic_concordance_edges_and_case(spark):
    texts = [
        "Spark at the very start of this line here",
        "a b c d e f spark g h i j k",
        "no probe here",
        "tail ends with spark",
    ]
    out = textops.kwic_concordance(_docs(spark, texts), probe="spark")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert 2 not in rows
    assert rows[0]["pos"] == 0 and rows[0]["left_ctx"] == ""
    assert rows[0]["right_ctx"] == "at the very start of"
    assert rows[1]["left_ctx"] == "b c d e f"
    assert rows[1]["right_ctx"] == "g h i j k"
    assert rows[3]["right_ctx"] == "" and rows[3]["pos"] == 3


def test_filter_ablation_cells_sum_to_total(spark):
    texts = [GOOD] * 3 + ["x y z"] * 2
    out = textops.filter_ablation(_docs(spark, texts)).collect()
    # the all-NULL subtotal row (lvl 7) carries the corpus totals
    top = [r for r in out if r["lvl"] == 7]
    assert len(top) == 1 and top[0]["n_docs"] == 5
    leaves = [r for r in out if r["lvl"] == 0]
    assert sum(r["n_docs"] for r in leaves) == 5
    assert sum(r["n_tokens"] for r in leaves) == top[0]["n_tokens"]


def test_forget_delete_propagates_via_digest(spark):
    texts = ["same body", "unique one", "same body", "unique two"]
    docs = _docs(spark, texts)
    reqs = docs.filter(F.col("doc_id") == 0).select("doc_id")
    rows = {
        r["doc_id"]: r
        for r in textops.forget_delete(docs, reqs).collect()
    }
    assert rows[0]["deleted"] and rows[0]["direct"]
    assert not rows[0]["via_content"]
    # doc 2 shares doc 0's content -> deleted via content identity
    assert rows[2]["deleted"] and rows[2]["via_content"]
    assert not rows[2]["direct"]
    assert not rows[1]["deleted"] and not rows[3]["deleted"]


def test_cluster_safe_split_coassigns_duplicates(spark):
    texts = ["dup family text"] * 4 + ["solo alpha", "solo beta"]
    out = textops.cluster_safe_split(_docs(spark, texts)).collect()
    fam = [r for r in out if r["cluster_size"] == 4]
    assert len(fam) == 4
    assert len({r["split"] for r in fam}) == 1
    assert len({r["digest"] for r in fam}) == 1
    solos = [r for r in out if r["cluster_size"] == 1]
    assert len(solos) == 2


def test_hits_star_graph_exact(spark):
    from ocr_spark.operators.graph import hits

    pdf = pd.DataFrame({"src": ["a", "b"], "dst": ["c", "c"]})
    out = {r["node"]: r for r in hits(spark.createDataFrame(pdf)).collect()}
    # c is the only authority (all mass), a/b split the hub mass
    assert out["c"]["auth_micro"] == 1_000_000
    assert out["a"]["hub_micro"] == 500_000
    assert out["b"]["hub_micro"] == 500_000
    assert out["a"]["auth_micro"] == 0 and out["c"]["hub_micro"] == 0


def test_vocab_coverage_exact_curve(spark):
    out = textops.vocab_coverage(_docs(spark, ["a a a a a a a a a b"]))
    rows = {r["pct"]: r for r in out.collect()}
    assert rows[90]["vocab_size"] == 1 and rows[90]["covered_tokens"] == 9
    assert rows[95]["vocab_size"] == 2 and rows[95]["covered_tokens"] == 10
    assert rows[99]["vocab_size"] == 2
    assert all(r["total_tokens"] == 10 for r in rows.values())


def test_heavy_keys_order_and_share(spark):
    from ocr_spark.operators.relational import heavy_keys

    pdf = pd.DataFrame({"k": [1] * 6 + [2] * 3 + [3]})
    out = heavy_keys(spark.createDataFrame(pdf), "k", k=2).collect()
    assert [(r["k"], r["cnt"]) for r in out] == [(1, 6), (2, 3)]
    assert out[0]["share_micro"] == 600_000
    assert out[1]["share_micro"] == 300_000


def test_negative_sample_matches_global_ring(spark):
    import hashlib

    for n in (3, 4, 17):
        ids = list(range(n))
        ring = sorted(
            ids, key=lambda i: (hashlib.md5(f"ns0:{i}".encode()).hexdigest(), i)
        )
        pos = {d: p for p, d in enumerate(ring)}
        expect = {
            d: (ring[(pos[d] + 1) % n], ring[(pos[d] + 2) % n]) for d in ids
        }
        pdf = pd.DataFrame({"doc_id": ids, "text": ["t"] * n})
        out = textops.negative_sample(spark.createDataFrame(pdf))
        got = {r["doc_id"]: (r["neg1"], r["neg2"]) for r in out.collect()}
        assert got == expect, f"n={n}"
        assert all(d not in got[d] for d in ids)


def test_snapshot_upsert_merge_semantics(spark):
    from ocr_spark.operators import dedup

    base = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": ["a", "b", "c", "d"]})
    )
    ch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [2, 3, 3, 5, 6, 6],
                "op": ["upsert", "upsert", "delete", "upsert", "upsert", "delete"],
                "text": ["b2", "c2", "", "e", "f", ""],
                "seq": [1, 1, 2, 1, 1, 2],
            }
        )
    )
    out = {
        r["doc_id"]: (r["text"], r["status"])
        for r in dedup.snapshot_upsert(base, ch).collect()
    }
    # id 3: upsert then delete at higher seq -> gone; id 6: added then
    # deleted -> never appears; id 5: genuinely new
    assert out == {
        1: ("a", "kept"),
        2: ("b2", "updated"),
        4: ("d", "kept"),
        5: ("e", "added"),
    }
    # a (doc_id, seq) TIE breaks deterministically on (op, text):
    # 'upsert' > 'delete' lexicographically, so the upsert wins
    tie = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 1],
                "op": ["upsert", "delete"],
                "text": ["zz", ""],
                "seq": [5, 5],
            }
        )
    )
    got = dedup.snapshot_upsert(base, tie).filter("doc_id = 1").collect()
    assert [(r["text"], r["status"]) for r in got] == [("zz", "updated")]
    # resurrect: a delete followed by a later upsert keeps the doc
    res = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [2, 2],
                "op": ["delete", "upsert"],
                "text": ["", "back"],
                "seq": [1, 2],
            }
        )
    )
    got = dedup.snapshot_upsert(base, res).filter("doc_id = 2").collect()
    assert [(r["text"], r["status"]) for r in got] == [("back", "updated")]


def test_kn_lm_score_hand_computed(spark):
    # corpus: bigram counts (a,b)=3 (b,a)=1 (b,c)=1; c1(a)=3 n1f(a)=1,
    # c1(b)=2 n1f(b)=2; n1p(a)=n1p(b)=n1p(c)=1; ntot=3. With d=3/4:
    # P(b|a) = (3-.75)/3 + .75*(1/3)*(1/3)  = 0.833333 -> 833333 micro
    # P(a|b) = (1-.75)/2 + .75*(2/2)*(1/3)  = 0.375    -> 375000 micro
    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": ["a b a b c", "a b", "x"]}
    )
    out = {
        r["doc_id"]: (r["n_bigrams"], r["kn_score_micro"])
        for r in textops.kn_lm_score(spark.createDataFrame(pdf)).collect()
    }
    assert out[0] == (4, (833333 + 375000 + 833333 + 375000) // 4)
    assert out[1] == (1, 833333)
    assert out[2] == (0, 0)  # too short to bigram: scores zero


def test_ict_pairs_reconstruct_and_short_drop(spark):
    pdf = pd.DataFrame(
        {"doc_id": [0, 1], "text": ["a b c d e f g h", "one two"]}
    )
    out = textops.ict_pairs(spark.createDataFrame(pdf)).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 0
    assert out[0]["query"] == "a b c d e"
    assert out[0]["passage"] == "f g h"


def test_release_checksum_hand_replay(spark):
    import hashlib

    from ocr_spark.operators import dedup

    pdf = pd.DataFrame({"doc_id": [0, 1, 2, 3], "text": ["a", "b", "c", None]})
    expect = {}
    for i, t in zip(pdf["doc_id"], pdf["text"]):
        h = hashlib.md5(f"{i}:{t if isinstance(t, str) else ''}".encode()).digest()
        b = h[0]
        u1 = int.from_bytes(h[0:4], "little")
        u2 = int.from_bytes(h[4:8], "little")
        n, s1, s2 = expect.get(b, (0, 0, 0))
        expect[b] = (n + 1, (s1 + u1) % 2**32, (s2 + u2) % 2**32)
    got = {
        r["bucket"]: (r["n_docs"], r["sum1"], r["sum2"])
        for r in dedup.release_checksum(spark.createDataFrame(pdf)).collect()
    }
    assert got == expect
    # an edited doc flips exactly its own bucket's row
    pdf2 = pdf.copy()
    pdf2.loc[1, "text"] = "B"
    got2 = {
        r["bucket"]: (r["n_docs"], r["sum1"], r["sum2"])
        for r in dedup.release_checksum(spark.createDataFrame(pdf2)).collect()
    }
    assert got2 != got


def test_quality_score_halfup_tie_and_nulls(spark):
    # ns/nt = 1/16 makes term2 = 0.01875, so score*10000 lands EXACTLY
    # on a .5 tie for ANY all-lowercase doc (term1 = nc/1000, term3 =
    # 0.2) — the cross-engine ROUND-boundary case that bit sf0.1; the
    # integer formula must round half-up, matching the exact-rational
    # reference below
    from fractions import Fraction

    tie = "the " + " ".join("bcdefghijklmnopq")  # 16 toks, 1 stopword
    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": [tie, "", "zz!! ??"]}
    )
    out = {
        r["doc_id"]: r["quality"]
        for r in textops.quality_score(spark.createDataFrame(pdf)).collect()
    }

    def exact(text):
        nc = len(text)
        toks = text.split(" ")
        nt = len(toks)
        ns = sum(t == "the" for t in toks)
        nn = sum(1 for ch in text if not (ch.islower() or ch.isdigit() or ch == " "))
        f = (
            Fraction(min(nc, 500), 1000)
            + Fraction(3 * ns, 10 * nt)
            + Fraction(nc - nn, 5 * nc)
        )
        return float((f * 10000 + Fraction(1, 2)).__floor__()) / 10000.0

    scaled = (
        Fraction(min(len(tie), 500), 1000) + Fraction(3, 160) + Fraction(1, 5)
    ) * 10000
    assert scaled - scaled.__floor__() == Fraction(1, 2)  # genuine tie
    assert out[0] == exact(tie)
    assert out[1] is None  # empty text: ratio undefined -> NULL
    assert out[2] == exact("zz!! ??")


def test_cms_heavy_hitters_overestimates_and_gates(spark):
    from ocr_spark.operators import textops

    # 60 'hot' tokens, 30 'warm', 10 singletons -> total 100 tokens;
    # threshold at hh_div=10 is 10, so only hot/warm can pass the gate
    rows = (
        [("hot " * 30).strip()] * 2
        + [("warm " * 30).strip()]
        + ["u%d" % i for i in range(10)]
    )
    df = spark.createDataFrame([(t,) for t in rows], ["text"])
    out = {
        r.token: r
        for r in textops.cms_heavy_hitters(df, hh_div=10).collect()
    }
    assert set(out) == {"hot", "warm"}
    assert out["hot"].exact_count == 60
    assert out["warm"].exact_count == 30
    for r in out.values():
        # CMS never underestimates, and the gate is total DIV hh_div
        assert r.est_count >= r.exact_count
        assert r.threshold == 10


def test_span_corruption_matches_python_reference(spark):
    import hashlib

    texts = [
        # doc 7 masks one span; doc 13 masks nothing (NULL target path);
        # doc 0 starts spans at 0, 2 and 12 — 0 and 2 merge if they
        # overlap, exercising the run-coalescing
        (7, "the quick brown fox jumps over the lazy dog and runs far away today"),
        (13, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (0, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    out = {r.doc_id: r for r in textops.span_corruption(df).collect()}

    def ref(doc_id, text):
        toks = text.split(" ")
        st, ln = [], []
        for pos in range(len(toks)):
            h = int.from_bytes(
                hashlib.md5(f"{doc_id}:{pos}".encode()).digest()[:4], "big"
            )
            st.append(h % 20 == 0)
            ln.append(2 + (h // 20) % 3)
        m = [
            any(i - o >= 0 and st[i - o] and ln[i - o] > o for o in range(4))
            for i in range(len(toks))
        ]
        inp, tgt, k, n_masked = [], [], 0, 0
        for i, t in enumerate(toks):
            if not m[i]:
                inp.append(t)
                continue
            n_masked += 1
            if i == 0 or not m[i - 1]:
                k += 1
                inp.append(f"<extra_id_{k}>")
                tgt.append(f"<extra_id_{k}> {t}")
            else:
                tgt.append(t)
        return " ".join(inp), (" ".join(tgt) or None), k, n_masked

    for doc_id, text in texts:
        i, t, k, nm = ref(doc_id, text)
        r = out[doc_id]
        assert r.input_text == i
        assert r.target_text == t
        assert (r.n_spans, r.n_masked) == (k, nm)
    # both paths exercised: masked docs and a clean doc with NULL target
    assert out[7].n_masked > 0 and out[0].n_spans >= 2
    assert out[13].n_masked == 0 and out[13].target_text is None


def test_fim_transform_matches_python_reference(spark):
    import hashlib

    texts = [(d, " ".join(f"t{j}" for j in range(12))) for d in range(8)]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    out = {r.doc_id: r for r in textops.fim_transform(df).collect()}

    def u32(s):
        return int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big")

    applied_any = passthrough_any = False
    for d, text in texts:
        toks = text.split(" ")
        applied = u32(f"fim0:{d}") % 2 == 0
        r = out[d]
        assert r.fim_applied == applied
        if not applied:
            passthrough_any = True
            assert r.text_out == text and r.n_middle_tokens == 0
            continue
        applied_any = True
        c1 = u32(f"fim1:{d}") % (len(toks) + 1)
        c2 = u32(f"fim2:{d}") % (len(toks) + 1)
        lo, hi = min(c1, c2), max(c1, c2)
        want = (
            "<fim_prefix> " + " ".join(toks[:lo])
            + " <fim_suffix> " + " ".join(toks[hi:])
            + " <fim_middle> " + " ".join(toks[lo:hi])
        )
        assert r.text_out == want
        assert r.n_middle_tokens == hi - lo
    assert applied_any and passthrough_any


def test_main_content_reassembly(spark):
    paras = [
        (0, 0, "the cat sat on a mat in the sun by a tree yes"),
        (0, 1, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (0, 2, "click http://x http://y http://z here now"),
        (0, 3, "tail words only"),
        # doc 1: everything boilerplate -> empty main text
        (1, 0, "click http://x http://y http://z here now"),
        (1, 1, "tiny tail bit"),
    ]
    pdf = pd.DataFrame(paras, columns=["doc_id", "para_idx", "para_text"])
    out = {
        r["doc_id"]: r
        for r in textops.main_content(spark.createDataFrame(pdf)).collect()
    }
    d0 = out[0]
    # para0 good, para1 promoted-good, para2 bad, para3 demoted-bad
    assert (d0["n_paras"], d0["n_kept"]) == (4, 2)
    assert d0["main_text"] == (
        "the cat sat on a mat in the sun by a tree yes\n\n"
        "alpha beta gamma delta epsilon zeta eta theta iota"
    )
    d1 = out[1]
    assert (d1["n_paras"], d1["n_kept"]) == (2, 0)
    assert d1["main_text"] == ""


def test_script_segments_islands_and_renumber(spark):
    rows = [
        (0, 0, "hello world"),          # latin
        (0, 1, "more latin here"),      # latin  -> one segment 0-1
        (0, 2, "привет мир"),           # cyrillic
        (0, 3, "και πάλι"),             # greek
        (0, 4, "back to latin"),        # latin
        (1, 0, "   "),                  # no script chars -> unknown
        (1, 1, "..!"),                  # unknown -> merges with above
    ]
    out = textops.script_segments(
        spark.createDataFrame(rows, ["doc_id", "line_idx", "line_text"])
    )
    segs = {
        (r.doc_id, r.seg_idx): r for r in out.collect()
    }
    assert len(segs) == 5
    s0 = segs[(0, 0)]
    assert (s0.script, s0.start_line, s0.end_line, s0.n_lines) == (
        "latin", 0, 1, 2
    )
    assert segs[(0, 1)].script == "cyrillic"
    assert segs[(0, 2)].script == "greek"
    assert (segs[(0, 3)].script, segs[(0, 3)].start_line) == ("latin", 4)
    u = segs[(1, 0)]
    assert (u.script, u.n_lines) == ("unknown", 2)


def test_hist_quantiles_edges_and_cap(spark):
    # lang a: 10 docs of 10 chars (bucket 0, edge 32) and 1 of 100
    # chars (bucket 3, edge 128): p50 -> 32, p99 -> 128
    rows = [("a", "x" * 10)] * 10 + [("a", "y" * 100)]
    # lang b: one 10_000-char doc lands in the capped top bucket
    rows += [("b", "z" * 10_000)]
    out = {
        r.lang: r
        for r in textops.hist_quantiles(
            spark.createDataFrame(rows, ["lang", "text"])
        ).collect()
    }
    a = out["a"]
    assert a.n_docs == 11
    assert (a.p50_chars, a.p90_chars, a.p99_chars) == (32, 32, 128)
    b = out["b"]
    assert b.n_docs == 1 and b.p50_chars == 64 * 32


def test_dom_density_blocks_nav_footer_dropped(spark):
    html = (
        '<html><body>'
        '<div class="nav"><a href="/">home</a><a href="/a">about</a>'
        '<a href="/c">contact</a></div>'
        '<p>this paragraph carries the actual long-form article body '
        'with plenty of prose</p>'
        '<p>short</p>'
        '<p>another content block with an inline <a href="#">citation'
        '</a> reference that stays mostly prose text here</p>'
        '<div class="footer"><a href="/t">terms</a> (c)</div>'
        '</body></html>'
    )
    rows = spark.createDataFrame([(0, html)], ["doc_id", "html"])
    out = {
        r.block_idx: r for r in textops.dom_density_blocks(rows).collect()
    }
    assert len(out) == 5
    nav = out[0]
    assert nav.n_anchors == 3 and not nav.kept
    assert nav.block_text == "homeaboutcontact"
    body = out[1]
    assert body.kept and body.n_anchors == 0 and body.link_e6 == 0
    assert not out[2].kept            # under DOM_MIN_TEXT chars
    cit = out[3]
    assert cit.kept and cit.n_anchors == 1
    assert cit.link_e6 == 1_000_000 * len("citation") // cit.text_len
    assert not out[4].kept            # footer: link-dense


def test_stratified_split_hamilton_exact_budget(spark):
    import hashlib

    # 3 strata of sizes 5/3/2 (N=10), budget 4: exact shares are
    # 2.0 / 1.2 / 0.8 -> bases 2/1/0, one leftover seat goes to the
    # largest remainder (0.8 beats 0.2 and 0.0) -> quotas 2/1/1
    pdf = pd.DataFrame(
        {
            "doc_id": range(10),
            "text": ["t"] * 10,
            "lang": ["en"] * 5 + ["de"] * 3 + ["zh"] * 2,
            "source": ["s"] * 10,
        }
    )
    out = textops.stratified_split(
        spark.createDataFrame(pdf), budget=4
    ).toPandas()
    assert len(out) == 4  # output size is EXACTLY the budget
    quotas = out.groupby("lang")["quota"].first().to_dict()
    assert quotas == {"en": 2, "de": 1, "zh": 1}
    # selection replays the deterministic (md5(strat0:id), id) order
    for lang, grp in out.groupby("lang"):
        pool = pdf[pdf.lang == lang].doc_id.tolist()
        want = sorted(
            pool,
            key=lambda i: (
                hashlib.md5(f"strat0:{i}".encode()).hexdigest(),
                i,
            ),
        )[: quotas[lang]]
        assert sorted(grp["doc_id"]) == sorted(want)


def test_stratified_split_zero_quota_strata_emit_nothing(spark):
    # budget 1 over a dominant stratum (9 of 10 docs) and a tiny one:
    # base 0/0, remainders 0.9/0.1 -> the single seat goes to the big
    # stratum; the small stratum must not appear at all
    pdf = pd.DataFrame(
        {
            "doc_id": range(10),
            "text": ["t"] * 10,
            "lang": ["en"] * 9 + ["zh"],
            "source": ["s"] * 10,
        }
    )
    out = textops.stratified_split(
        spark.createDataFrame(pdf), budget=1
    ).toPandas()
    assert len(out) == 1
    assert out.lang.tolist() == ["en"]
