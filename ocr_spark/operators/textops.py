"""Text-analysis operators for training-data pipelines.

All four stay entirely JVM-side (built-in functions + higher-order lambda
expressions) — no Python worker in the hot path, whole-stage codegen
applies, and every formula is replicated verbatim in the DuckDB oracle SQL
(__spark_entry__.oracle_sql)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.runs import changed, ordered_list, run_ids
from ocr_spark.worker import python_stage

#: English function words used by the n-gram/stopword heuristics. Fixed —
#: changing this list changes lang_id/quality_score semantics.
STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "it", "for", "on",
    "with", "as", "at", "by", "an",
)

#: lang_id threshold: fraction of tokens that are stopwords.
LANG_EN_MIN_STOP_RATIO = 0.05


def _tokens(col: str) -> Column:
    return F.split(F.col(col), " ")


def _n_stop(col: str) -> Column:
    """Stopword token count (STOPWORDS membership over whitespace
    tokens) — ONE copy shared by _stop_ratio/lang_id and quality_score
    so tokenization and quoting can never fork between them."""
    in_list = ",".join(f"'{w}'" for w in STOPWORDS)
    return F.expr(f"size(filter(split({col}, ' '), t -> t in ({in_list})))")


def _stop_ratio(col: str) -> Column:
    return _n_stop(col).cast("double") / F.size(_tokens(col)).cast("double")


def token_count(df: DataFrame, col: str = "text") -> DataFrame:
    """Whitespace tokens + a word-regex count (BPE-ish proxy: alphanumeric
    runs), both as bigint."""
    return df.select(
        "doc_id",
        F.size(_tokens(col)).cast("long").alias("n_tokens"),
        F.size(F.expr(f"regexp_extract_all({col}, '[a-z0-9]+', 0)"))
        .cast("long")
        .alias("n_words"),
    )


def quality_e4(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The quality score as an EXACT integer (score × 10^4, BIGINT):
    0.5·min(len/500,1) + 0.3·stopword_ratio + 0.2·(1 − non_text_char
    ratio), rounded half-up at the 4th decimal.  Empty documents yield
    NULL (the character ratio is undefined).  This is the form every
    cross-engine comparison should consume — argmax/argsort on the
    integer can never hit a float tie (see quality_score's ROUND-
    boundary history)."""
    t = df.select(
        id_col,
        F.length(F.col(col)).cast("long").alias("__nc"),
        F.size(_tokens(col)).cast("long").alias("__nt"),
        _n_stop(col).cast("long").alias("__ns"),
        F.length(F.regexp_replace(F.col(col), "[a-z0-9 ]", ""))
        .cast("long")
        .alias("__nn"),
    )
    t2 = t.select(
        id_col,
        "__nc",
        F.expr(
            "CAST(least(__nc, 500) AS DECIMAL(38,0)) * __nt * __nc"
            " + CAST(300 AS DECIMAL(38,0)) * __ns * __nc"
            " + CAST(200 AS DECIMAL(38,0)) * __nt * (__nc - __nn)"
        ).alias("__num"),
        F.expr("CAST(1000 AS DECIMAL(38,0)) * __nt * __nc").alias("__den"),
    )
    qe4 = F.expr("CAST((20000 * __num + __den) DIV (2 * __den) AS BIGINT)")
    return t2.select(
        id_col,
        F.when(F.col("__nc") == 0, F.lit(None).cast("bigint"))
        .otherwise(qe4)
        .alias("qe4"),
    )


def quality_score(df: DataFrame, col: str = "text") -> DataFrame:
    """Deterministic quality score in [0,1]:
    0.5·min(len/500,1) + 0.3·stopword_ratio + 0.2·(1 − non_text_char_ratio),
    rounded half-up to 4 decimals.

    Exactness: the three terms share the common denominator
    1000·n_tokens·n_chars, so the score is ONE integer division and the
    4-decimal rounding is integer round-half-up — no double summation
    anywhere. (The original double-sum formulation hit the documented
    ROUND-boundary trap at sf0.1: two engines' last-ulp sum difference
    straddled an exact .xxxx5 boundary and the rounded outputs
    diverged.) The final double is the same bigint/10000.0 on both
    engines. Empty documents (n_chars = 0) yield NULL — the character
    ratio is undefined there, matching the prior NULL behavior."""
    return quality_e4(df, col).select(
        "doc_id",
        (F.col("qe4").cast("double") / F.lit(10000.0)).alias("quality"),
    )


def lang_id(df: DataFrame, col: str = "text") -> DataFrame:
    """Stopword-density language guess: 'en' above threshold, else 'unk'."""
    pred = F.when(
        _stop_ratio(col) >= F.lit(LANG_EN_MIN_STOP_RATIO), F.lit("en")
    ).otherwise(F.lit("unk"))
    return df.select("doc_id", pred.alias("pred_lang"))


def doc_fingerprint(df: DataFrame, col: str = "text") -> DataFrame:
    """Whole-document fingerprint (md5 hex) plus a shingle fingerprint:
    md5 of the sorted distinct 3-word shingles — robust to shingle order,
    equal documents ⇒ equal fingerprints. Tokens hoisted to a column so
    the shingle lambda never re-splits the text per element."""
    t = df.select(
        "doc_id", F.col(col).alias("__t"), F.split(F.col(col), " ").alias("__toks")
    )
    shingles = F.expr(
        "case when size(__toks) < 3 then array()"
        " else array_sort(array_distinct(transform("
        "  sequence(1, size(__toks) - 3 + 1),"
        "  i -> concat_ws(' ', slice(__toks, i, 3))))) end"
    )
    return t.select(
        "doc_id",
        F.md5(F.col("__t")).alias("fp_exact"),
        F.md5(F.concat_ws("|", shingles)).alias("fp_shingle"),
    )


#: PII patterns (RE2-compatible subset so Spark's Java regex and the
#: DuckDB oracle's RE2 agree byte-for-byte), applied in this order.
PII_PATTERNS = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
)


def pii_scrub(df: DataFrame, col: str = "text") -> DataFrame:
    """PII scrubbing (the pre-training hygiene pass): replace emails,
    IPv4 addresses, and NANP-style phone numbers with typed tokens and
    count each category — counts are what a production pipeline writes
    to lineage. Entirely JVM-side ``regexp_extract_all`` /
    ``regexp_replace`` (whole-stage codegen, no Python), fixed match
    order email → ip → phone so the engines' replacement text agrees."""
    scrubbed = F.col(col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        sql_pat = pat.replace("\\", "\\\\")  # Spark SQL literal escaping
        counts.append(
            F.size(F.expr(f"regexp_extract_all({col}, '{sql_pat}', 0)"))
            .cast("long")
            .alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.select("doc_id", *counts, scrubbed.alias("scrubbed"))


def repetition_score(df: DataFrame, col: str = "text") -> DataFrame:
    """Repetition / boilerplate signal (the C4/Gopher-style quality
    gate): duplicate-word fraction and duplicate-3-gram fraction, both
    1 − distinct/total rounded to 4 decimals, plus the conventional
    boilerplate flag at >0.3 duplicate words. Higher-order array
    expressions only — no shuffle, no Python. The token array is
    hoisted into its own projection so the 3-gram lambda slices a
    column, not a per-element re-split of the text (the re-split was
    O(words²) per doc — measured 4.3× slower at sf0.1)."""
    t = df.select("doc_id", F.split(F.col(col), " ").alias("__toks")).select(
        "doc_id",
        "__toks",
        F.expr(
            "case when size(__toks) < 3 then array()"
            " else transform(sequence(1, size(__toks) - 2),"
            "  i -> concat_ws(' ', slice(__toks, i, 3))) end"
        ).alias("__grams"),
    )
    n_words = F.size("__toks").cast("double")
    dup_word = (
        F.lit(1.0) - F.size(F.array_distinct(F.col("__toks"))).cast("double") / n_words
    )
    grams = F.col("__grams")
    n_grams = F.size(grams).cast("double")
    dup_gram = F.when(
        n_grams > 0,
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / n_grams,
    ).otherwise(F.lit(0.0))
    return t.select(
        "doc_id",
        F.round(dup_word, 4).alias("dup_word_frac"),
        F.round(dup_gram, 4).alias("dup_3gram_frac"),
        (dup_word > 0.3).alias("is_repetitive"),
    )


def url_extract(df: DataFrame, col: str = "text") -> DataFrame:
    """URL / domain extraction with a domain blocklist flag (the
    web-corpus filtering primitive: every production pretraining
    pipeline drops documents whose source domain sits on a blocklist).
    JVM ``regexp_extract_all`` + higher-order array expressions —
    whole-stage codegen, no Python, no shuffle. The URL pattern is the
    RE2-compatible subset so the DuckDB oracle replays byte-for-byte."""
    urls = f"regexp_extract_all({col}, 'https?://[a-z0-9./_-]+', 0)"
    doms = (
        f"array_sort(array_distinct(transform({urls},"
        f" u -> regexp_extract(u, 'https?://([a-z0-9.-]+)', 1))))"
    )
    return df.select(
        "doc_id",
        F.expr(f"size({urls})").cast("long").alias("n_urls"),
        F.expr(f"concat_ws('|', {doms})").alias("domains"),
        # label-anchored suffix match: the domain itself or a true
        # subdomain — 'nottracker.net' must NOT match 'tracker.net'
        F.expr(
            f"exists({doms}, d -> d = '{BLOCKED_DOMAIN_SUFFIX}'"
            f" or d like '%.{BLOCKED_DOMAIN_SUFFIX}')"
        ).alias("blocked"),
    )


#: domain suffix treated as blocklisted by url_extract. Fixed — part of
#: the operator's contract (the oracle SQL replays it verbatim).
BLOCKED_DOMAIN_SUFFIX = "tracker.net"

#: broad URL token pattern for canonicalization — RE2-compatible char
#: class (no backtracking constructs) so Spark and DuckDB match the
#: identical spans byte-for-byte.
URL_CANON_RE = "https?://[A-Za-z0-9.:/_?&=#%-]+"


#: C0 controls except \t (09) and \n (0A); \r handled separately.
_CTRL_CLASS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"


def text_sanitize(df: DataFrame, col: str = "text") -> DataFrame:
    """Text sanitation — the ingest-normalization pass every pipeline
    runs before hashing or tokenizing: newline canonicalization
    (CRLF/CR → LF), C0 control-character removal (keeping tab and
    newline), and Unicode NFC composition so the same visible text
    always hashes identically (decomposed 'e'+U+0301 vs composed é
    would otherwise defeat exact dedup and fingerprints).

    The newline/control steps are JVM ``regexp_replace`` expressions;
    NFC is the one Python step — an Arrow-batched pandas UDF (there is
    no JVM NFC builtin), kept last so it runs on already-shrunk text.
    DuckDB's ``nfc_normalize`` (utf8proc) and Python's ``unicodedata``
    agree on NFC, so the oracle replays the result byte-for-byte.

    Scale shape: per-row expressions + one vectorized UDF — no
    shuffle, no driver involvement; the parallel axis is documents."""
    import unicodedata

    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("string")
    @python_stage
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: None if x is None else unicodedata.normalize("NFC", x)
        )

    stripped = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.col(col), "\r\n", "\n"), "\r", "\n"),
        _CTRL_CLASS,
        "",
    )
    s = df.select(
        "doc_id", F.col(col).alias("__orig"), stripped.alias("__stripped")
    )
    return s.select(
        "doc_id",
        _nfc(F.col("__stripped")).alias("text_clean"),
        (F.length("__orig") - F.length("__stripped")).cast("long").alias(
            "n_removed"
        ),
        (F.col("__orig") != _nfc(F.col("__stripped"))).alias("changed"),
    )


def url_canonicalize(df: DataFrame, col: str = "text") -> DataFrame:
    """URL canonicalization + crawl-frontier dedup counts — the
    web-corpus primitive that collapses the many spellings of one page
    (uppercase hosts, default ports, fragments, shuffled query params,
    bare-vs-'/' paths) before fetch-dedup or per-page grouping.

    Canonical form: lowercase host, default port dropped (http:80 /
    https:443), fragment dropped, query params sorted byte-wise, a
    lone '/' path dropped. Everything is split_part / substring /
    array_sort string algebra with identical semantics in Spark and
    DuckDB (empty string on absent parts, binary collation sorts), so
    the oracle replays the canon byte-for-byte.

    Scale shape: extraction and canonicalization are per-row
    whole-stage-codegen expressions; the one exchange is the groupBy
    on the canonical URL — URL-sized keys with map-side partial
    aggregation, never document text."""
    urls = df.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all({col}, '{URL_CANON_RE}', 0)")
        ).alias("url"),
    )
    s1 = urls.select(
        "doc_id",
        "url",
        F.expr("split_part(split_part(url, '#', 1), '?', 1)").alias("base"),
        F.expr("split_part(split_part(url, '#', 1), '?', 2)").alias("q"),
    )
    s2 = s1.select(
        "doc_id",
        "url",
        "base",
        "q",
        F.expr("split_part(base, '://', 1)").alias("scheme"),
        F.expr("split_part(split_part(base, '://', 2), '/', 1)").alias("hp"),
    )
    s3 = s2.select(
        "doc_id",
        "url",
        "q",
        "scheme",
        F.expr("lower(split_part(hp, ':', 1))").alias("host"),
        F.expr("split_part(hp, ':', 2)").alias("port"),
        F.expr(
            "substring(base, length(scheme) + 3 + length(hp) + 1)"
        ).alias("path"),
    )
    canon = (
        "concat(scheme, '://',"
        " case when port = '' or (scheme = 'http' and port = '80')"
        "   or (scheme = 'https' and port = '443')"
        "  then host else concat(host, ':', port) end,"
        " case when path = '/' then '' else path end,"
        " case when q = '' then ''"
        "  else concat('?', concat_ws('&', array_sort(split(q, '&')))) end)"
    )
    return (
        s3.select("doc_id", "url", F.expr(canon).alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count("*").cast("long").alias("n_refs"),
            F.countDistinct("url").cast("long").alias("n_variants"),
            F.min("doc_id").alias("first_doc"),
        )
    )


def decontaminate(
    df: DataFrame, bench_df: DataFrame, col: str = "text", n: int = 5
) -> DataFrame:
    """Benchmark decontamination: flag documents sharing any word
    ``n``-gram with an evaluation set (the GPT-3/PaLM-style overlap
    check every serious pretraining pipeline runs before training).

    Scale shape: the benchmark side is an eval suite — thousands of
    documents, a bounded n-gram set — so its distinct grams are
    **broadcast** and the corpus side never shuffles its text: the
    probe carries (gram, doc_id) pairs from docs' distinct grams only,
    the per-doc hit count aggregates partially map-side, and the final
    join back to (doc_id, n_grams) is id+count columns only."""
    # tokens hoisted into their own projection so the gram lambda
    # slices a column instead of re-splitting the text per element
    grams = (
        f"case when size(__toks) < {n} then array()"
        f" else array_distinct(transform("
        f"  sequence(1, size(__toks) - {n - 1}),"
        f"  i -> concat_ws(' ', slice(__toks, i, {n})))) end"
    )
    from ocr_spark.operators.dedup import _own_caches

    bench_grams = (
        bench_df.select(F.split(F.col(col), " ").alias("__toks"))
        .select(F.explode(F.expr(grams)).alias("gram"))
        .distinct()
    )
    # the corpus-side gram arrays feed BOTH the probe explode and the
    # per-doc size — persist so the expensive shingling runs once
    # (GC-tied release, the dedup.py cache-ownership pattern)
    g = (
        df.select("doc_id", F.split(F.col(col), " ").alias("__toks"))
        .select("doc_id", F.expr(grams).alias("grams"))
        .persist()
    )
    doc_grams = g.select("doc_id", F.explode("grams").alias("gram"))
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )
    base = g.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
    result = base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_contaminated"), F.lit(0).cast("long")).alias(
            "n_contaminated"
        ),
        (F.coalesce(F.col("n_contaminated"), F.lit(0)) > 0).alias("contaminated"),
    )
    return _own_caches(result, [g])


def pack_sequences(
    df: DataFrame,
    col: str = "text",
    budget: int = 512,
    shards: int = 64,
    token_count: "Column | None" = None,
) -> DataFrame:
    """Sequence packing (the training-batch assembly op): documents are
    concatenated in doc_id order and cut every ``budget`` tokens — each
    doc gets the sequence index and intra-sequence position where its
    tokens start, the layout a packed-pretraining dataloader consumes.

    Scale shape: a GLOBAL running sum would serialize the corpus
    through one partition, so packing is per-shard (``doc_id %
    shards``) — one exchange on the shard key, a running-sum window
    inside each shard, shards sized to the cluster. Integer arithmetic
    end-to-end (token counts, offsets), so the DuckDB oracle replays
    exactly.

    ``token_count`` swaps the token axis: default is whitespace words;
    pass e.g. ``bpe.bpe_token_count_expr(col)`` to pack real subword
    tokens (what a trainer's dataloader actually budgets by).

    NULL-text documents pack nothing (split(NULL) is NULL, size() = -1 —
    unfiltered, a NULL doc would emit n_tokens = -1 AND shift every
    later offset in its shard, diverging from the oracle's NULL-skipping
    SUM; same class as the chunk_overlap guard)."""
    from pyspark.sql.window import Window

    toks = (
        token_count
        if token_count is not None
        else F.size(_tokens(col)).cast("long")
    )
    df = df.filter(F.col(col).isNotNull())
    base = df.select(
        "doc_id",
        (F.col("doc_id") % shards).alias("shard"),
        toks.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return base.select(
        "doc_id",
        "shard",
        "n_tokens",
        off.alias("start_off"),
        F.floor(off / F.lit(budget)).cast("long").alias("seq_idx"),
        (off % budget).cast("long").alias("pos_in_seq"),
    )


def domain_mix(df: DataFrame, domain_col: str = "source") -> DataFrame:
    """Temperature-scaled domain mixture weights (α = 0.5, the
    pretraining data-mixing pass): a domain with corpus share p gets
    target share q ∝ √p, and every document carries its domain's
    up/down-sampling factor q/p — >1 upsamples rare domains, <1
    downsamples dominant ones.

    Cross-engine determinism: √ is IEEE-correctly-rounded in both
    engines (unlike pow), √p is floored to integer micro-units before
    the normalizing sum so Z is an exact integer, and the final weight
    is one double division of identical rationals — the DuckDB oracle
    reproduces it bit-for-bit. Scale shape: two tiny aggregates (the
    domain table is bounded by the number of sources), both broadcast
    back; the corpus itself never shuffles."""
    n_tot = df.agg(F.count("*").alias("n_total"))  # 1-row broadcast
    per = df.groupBy(domain_col).agg(F.count("*").alias("n_domain"))
    mu = F.floor(
        F.sqrt(F.col("n_domain").cast("double") / F.col("n_total")) * 1e6
    ).cast("long")
    w_tab = per.crossJoin(F.broadcast(n_tot)).select(
        domain_col, "n_domain", "n_total", mu.alias("mu")
    )
    z = w_tab.agg(F.sum("mu").alias("z"))  # exact integer normalizer
    weights = w_tab.crossJoin(F.broadcast(z)).select(
        domain_col,
        "n_domain",
        F.round(
            (F.col("mu") / F.col("z"))
            / (F.col("n_domain") / F.col("n_total")),
            6,
        ).alias("mix_weight"),
    )
    return (
        df.select("doc_id", domain_col)
        .join(F.broadcast(weights), domain_col)
        .select("doc_id", domain_col, "n_domain", "mix_weight")
    )


#: corpus_shuffle / mixture_sample epoch salt. Fixed — operator contract.
EPOCH_SALT = "epoch0"


def corpus_shuffle(
    df: DataFrame, shards: int = 64, salt: str = EPOCH_SALT
) -> DataFrame:
    """Deterministic corpus shuffle — the training-order pass: every
    document gets a pseudo-random shard and position from
    ``md5(salt:doc_id)``, so a dataloader reads shards independently
    yet every epoch (new salt) reshuffles reproducibly across engines
    and reruns.

    Scale shape: the one exchange carries (doc_id, shard, hash) — never
    text; position is a per-shard row_number window, shards sized to
    the cluster so no global sort exists anywhere."""
    from pyspark.sql.window import Window

    if 256 % shards != 0:
        raise ValueError(
            f"shards must divide 256 (got {shards}): the shard is the "
            "digest's byte 0 mod shards, which is uniform only for "
            "divisors of 256"
        )
    key = F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string")))
    keyed = df.select("doc_id", key.alias("key"))
    # shard = low byte of the digest mod shards, derived from the key
    # COLUMN (one md5, no salt in SQL literals; DuckDB: md5_number
    # int128 ≡ byte0 mod shards for shards dividing 256)
    shard = F.expr(f"pmod(cast(conv(substring(key, 1, 2), 16, 10) as int), {shards})")
    w = Window.partitionBy("shard").orderBy("key")
    return keyed.select("doc_id", shard.alias("shard"), "key").select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


def mixture_sample(
    df: DataFrame, domain_col: str = "source", salt: str = EPOCH_SALT
) -> DataFrame:
    """Apply the temperature mixture (domain_mix) to build one epoch:
    each document is repeated ``floor(w)`` times plus one more with
    probability ``frac(w)`` — the standard weighted-epoch scheme, so
    E[Σ copies] = corpus size while rare domains upsample and dominant
    ones downsample. The Bernoulli draw is a deterministic md5-derived
    uniform (low 4 digest bytes / 2^32), so the epoch is reproducible
    and the DuckDB oracle replays it exactly: the uniform is an exact
    dyadic rational and ``mix_weight`` is the same rounded double in
    both engines, so the comparison is bit-deterministic.

    Scale shape: the weight table is domain-bounded and broadcast (from
    domain_mix); the md5 draw is per-row JVM arithmetic — the corpus
    never shuffles."""
    weights = domain_mix(df, domain_col).select("doc_id", domain_col, "mix_weight")
    # little-endian low 4 digest bytes, matching DuckDB's
    # ((md5_number(x) % 2^32) + 2^32) % 2^32 (md5_number is the signed
    # LITTLE-endian int128 of the digest; hex chars 2i-1..2i are byte
    # i). The digest is a COLUMN so the salt never rides a SQL literal.
    weights = weights.withColumn(
        "__h", F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string")))
    )
    u = _md5_u32(F.col("__h")).cast("double") / F.lit(4294967296.0)
    base = F.floor(F.col("mix_weight")).cast("long")
    frac = F.col("mix_weight") - F.floor(F.col("mix_weight"))
    n_copies = base + F.when(u < frac, F.lit(1)).otherwise(F.lit(0)).cast("long")
    return weights.select(
        "doc_id",
        domain_col,
        "mix_weight",
        n_copies.alias("n_copies"),
        (n_copies > 0).alias("sampled"),
    )


def top_terms_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 20
) -> DataFrame:
    """Corpus top-k terms by document frequency (the vocabulary-pruning
    primitive of a training-data pipeline): explode distinct per-doc
    tokens → count per token → top-k with (df desc, token asc) total
    order. The explode carries only (token, doc_id); partial aggregation
    combines map-side before the single exchange on token."""
    toks = df.select(
        F.col(id_col).alias("did"),
        F.explode(F.array_distinct(_tokens(text_col))).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count("*").cast("long").alias("doc_freq")
    )
    return counts.orderBy(F.col("doc_freq").desc(), F.col("token").asc()).limit(k)


def vocab_oov(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 256
) -> DataFrame:
    """Vocabulary construction + per-document out-of-vocabulary rate —
    the coverage check run before committing to a tokenizer/vocab: build
    the top-``k`` corpus vocabulary by term frequency (ties broken by
    token ascending, so the cut is a total order and reproducible), then
    score every document by the fraction of its tokens outside it.

    Scale shape: the explode carries (id, token) with map-side partial
    aggregation into the term counts; top-k is a distributed
    TakeOrdered (never a single-partition window); the k-row vocab
    broadcasts into the probe; the per-doc aggregate is one exchange on
    the id."""
    toks = df.select(F.col(id_col), F.explode(_tokens(text_col)).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").cast("long").alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("token").asc())
        .limit(k)
        .select("token", F.lit(True).alias("__in_vocab"))
    )
    per = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return per.select(
        id_col,
        "n_tokens",
        "n_oov",
        F.round(
            F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"), 4
        ).alias("oov_frac"),
    )


#: train/val/test fractions for split_assign — part of the operator
#: contract (the oracle replays the thresholds verbatim).
SPLIT_FRACS = (0.98, 0.01, 0.01)
SPLIT_SALT = "split0"


def split_u(id_col: str, salt: str = SPLIT_SALT) -> Column:
    """The split draw as a per-row Column — the exact dyadic uniform
    md5_u32(salt:id) / 2^32 (little-endian low 4 digest bytes, equal
    to DuckDB's md5_number mod 2^32).  Shared by :func:`split_assign`
    and inline train-membership filters (transcript.sft_manifest), so
    the draw cannot fork."""
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    return _md5_u32(h).cast("double") / F.lit(4294967296.0)


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = SPLIT_SALT,
    fracs: "tuple[float, float, float]" = SPLIT_FRACS,
) -> DataFrame:
    """Deterministic train/val/test assignment — the held-out split
    every pipeline needs to be stable across reruns, machines, and
    engine versions: a document's split follows only md5(salt:id), so
    re-ingesting or repartitioning the corpus never moves a document
    across the split boundary (which would leak eval data into train).

    The uniform is the little-endian low-4-bytes of the digest / 2^32 —
    an exact dyadic rational, equal to DuckDB's md5_number mod 2^32, so
    the oracle replays every assignment bit-for-bit (the
    mixture_sample pattern). Per-row JVM arithmetic, zero exchanges."""
    keyed = df.select(F.col(id_col), split_u(id_col, salt).alias("u"))
    u = F.col("u")
    t_train, t_val = fracs[0], fracs[0] + fracs[1]
    split = (
        F.when(u < t_train, F.lit("train"))
        .when(u < t_val, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return keyed.select(id_col, split.alias("split"), u.alias("u"))


def tfidf_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF terms per document: tf = occurrences/doc_len,
    idf = ln(N/df), score rounded to 4 decimals (absorbs last-ulp libm
    differences across engines). Two shuffles total — (token) for the
    document frequencies and (doc) for the per-doc top-k window — with
    partial aggregation on both; the df side is a token→count table,
    broadcastable at any corpus size with a bounded vocabulary."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("did"),
        F.explode(_tokens(text_col)).alias("token"),
    )
    tf = toks.groupBy("did", "token").agg(F.count("*").alias("n"))
    doc_len = toks.groupBy("did").agg(F.count("*").alias("len"))
    dfreq = (
        toks.select("did", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    # corpus size as a broadcast 1-row aggregate, NOT a driver-side
    # count(): the whole query stays lazy and runs as one job
    n_docs = df.agg(F.countDistinct(F.col(id_col)).alias("__nd"))
    scored = (
        tf.join(doc_len, "did")
        .join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                (F.col("n") / F.col("len")) * F.log(F.col("__nd") / F.col("df")),
                4,
            ),
        )
    )
    w = Window.partitionBy("did").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("did").alias("doc_id"), "token", "rank", "tfidf")
    )


#: gopher_rules thresholds (Rae et al., arXiv:2112.11446 Table A1 —
#: the Gopher quality-filter heuristics). Fixed — operator contract;
#: the oracle replays every rule verbatim.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2


def gopher_rules(df: DataFrame, col: str = "text") -> DataFrame:
    """Gopher quality-rule filter (Rae et al., arXiv:2112.11446 Table A1)
    — the rule-based document filter every web-scale pretraining corpus
    runs before model-based scoring: word-count bounds, mean-word-length
    bounds, symbol-to-word ratio (``#`` and ``...``), bullet-line and
    ellipsis-line fractions, fraction of words containing an alphabetic
    character, and a minimum stopword count.

    Entirely JVM higher-order array expressions — whole-stage codegen,
    no shuffle, no Python. Pass/fail compares the UNROUNDED rationals
    (exact integer ratios divide identically under IEEE in both
    engines); the reported fractions are rounded to 4 decimals for
    display only."""
    w = _tokens(col)
    n_words = F.size(w).cast("long")
    nw_d = n_words.cast("double")
    mean_len = (
        F.expr(f"aggregate(split({col},' '), 0L, (a, x) -> a + length(x))")
        .cast("double")
        / nw_d
    )
    n_hash = F.length(F.col(col)) - F.length(F.regexp_replace(F.col(col), "#", ""))
    n_ellipsis = F.size(F.expr(f"regexp_extract_all({col}, '\\\\.\\\\.\\\\.', 0)"))
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / nw_d
    lines = F.split(F.col(col), "\n")
    n_lines = F.size(lines).cast("double")
    bullet_frac = (
        F.expr(
            f"size(filter(split({col},'\\n'),"
            " l -> l like '- %' or l like '* %'))"
        ).cast("double")
        / n_lines
    )
    ellipsis_frac = (
        F.expr(f"size(filter(split({col},'\\n'), l -> l like '%...'))").cast(
            "double"
        )
        / n_lines
    )
    alpha_frac = (
        F.expr(f"size(filter(split({col},' '), x -> x rlike '[a-z]'))").cast(
            "double"
        )
        / nw_d
    )
    stop_arr = ",".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.expr(
        f"size(filter(array({stop_arr}), s -> array_contains(split({col},' '), s)))"
    ).cast("long")
    passes = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN)
        & (symbol_ratio < GOPHER_MAX_SYMBOL_RATIO)
        & (bullet_frac < GOPHER_MAX_BULLET_FRAC)
        & (ellipsis_frac < GOPHER_MAX_ELLIPSIS_FRAC)
        & (alpha_frac > GOPHER_MIN_ALPHA_FRAC)
        & (n_stop >= GOPHER_MIN_STOPWORDS)
    )
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(bullet_frac, 4).alias("bullet_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_frac"),
        F.round(alpha_frac, 4).alias("alpha_frac"),
        n_stop.alias("n_stopwords"),
        passes.alias("gopher_pass"),
    )


#: ngram_lm_score fluency flag threshold (micro-probability units).
#: Fixed — operator contract.
LM_FLUENT_MIN_MICRO = 20_000


def ngram_lm_score(df: DataFrame, col: str = "text") -> DataFrame:
    """Corpus bigram-LM document scoring — the CCNet-style (Wenzek et
    al., arXiv:1911.00359) fluency signal: train bigram conditional
    probabilities P(w2|w1) = c(w1 w2) / c(w1 ·) on the WHOLE corpus,
    then score each document by the mean probability of its bigrams.

    Cross-engine exactness: probabilities stay in integer micro-units —
    per-bigram ``prob_micro = (1e6 · c2) div c1`` and per-document
    ``lm_score_micro = Σ prob_micro div n_bigrams`` use integer
    division, so the DuckDB oracle replays bit-for-bit (no log, no
    float summation order).

    Scale shape: bigrams travel as md5 hashes — (hash, count) only
    crosses the two count exchanges, never text; the count tables are
    vocabulary-bounded (≪ corpus) so AQE broadcasts them into the probe
    joins; the per-doc aggregation is one exchange on doc_id with
    map-side partials."""
    toks = df.select("doc_id", _tokens(col).alias("__w"))
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("__w") >= 2,
                F.expr(
                    "transform(sequence(1, size(__w) - 1),"
                    " i -> struct("
                    "  md5(element_at(__w, i)) as h1,"
                    "  md5(concat_ws(' ', element_at(__w, i),"
                    "   element_at(__w, i + 1))) as h2))"
                ),
            ).otherwise(F.expr("array()").cast("array<struct<h1:string,h2:string>>"))
        ).alias("bg"),
    ).select("doc_id", F.col("bg.h1").alias("h1"), F.col("bg.h2").alias("h2"))
    # context counts derive from the (vocabulary-bounded) bigram count
    # table — c(w1 ·) = Σ_w2 c(w1 w2) — instead of a third corpus scan
    c2 = pairs.groupBy("h1", "h2").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("h1").agg(F.sum("c2").alias("c1"))
    scored = (
        pairs.join(c2, ["h1", "h2"])
        .join(c1, "h1")
        .select(
            "doc_id",
            F.expr("div(1000000 * c2, c1)").alias("prob_micro"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("__n"),
            F.sum("prob_micro").alias("__s"),
        )
        .select(
            "doc_id",
            F.col("__n").cast("long").alias("n_bigrams"),
            F.expr("div(__s, __n)").cast("long").alias("lm_score_micro"),
        )
    )
    base = df.select("doc_id")
    return base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias("n_bigrams"),
        F.coalesce(F.col("lm_score_micro"), F.lit(0).cast("long")).alias(
            "lm_score_micro"
        ),
        (F.coalesce(F.col("lm_score_micro"), F.lit(0)) >= LM_FLUENT_MIN_MICRO).alias(
            "is_fluent"
        ),
    )


def kn_lm_score(df: DataFrame, col: str = "text") -> DataFrame:
    """Interpolated Kneser–Ney bigram document scoring — the smoothed
    upgrade of :func:`ngram_lm_score` (KenLM/CCNet LMs are KN-smoothed;
    raw MLE over-rewards documents that repeat one frequent bigram and
    scores rare-context bigrams identically to common ones). With
    absolute discount d = 3/4:

        P(w2|w1) = (c(w1w2) − d)/c(w1)
                 + d · N1+(w1,·)/c(w1) · N1+(·,w2)/N1+(·,·)

    where N1+ are distinct-continuation counts (type counts, the KN
    signature). Only SEEN bigrams are scored (c ≥ 1 > d, so the max(…,0)
    clamp never binds). Cross-engine exactness: with everything over a
    common denominator the per-bigram probability is the single integer
    division

        p_micro = 1e6·((4·c2 − 3)·ntot + 3·n1f·n1p)  div  (4·c1·ntot)

    evaluated in decimal(38,0) on the JVM and HUGEINT in the oracle
    (the bm25 precedent), and the per-document score is Σ p_micro div n
    — order-free integer sums, no log, no float.

    Scale shape: bigrams travel as (md5(w1), md5(w2)) hash pairs; ALL
    four count tables (bigram, context, continuation, 1-row type total)
    derive from the single bigram-count aggregate, and that aggregate
    is PERSISTED — Spark does not dedup common subplans, so without the
    persist each derived table re-runs the corpus tokenize+hash pass
    (measured: ~6 parquet scans, zero ReusedExchange). With it the
    corpus is read twice total (count build + probe); the count tables
    are vocabulary-bounded so AQE broadcasts them into the probe joins,
    and the 1-row total is an explicit broadcast; the per-doc
    aggregation is one exchange on doc_id."""
    from ocr_spark.operators.dedup import _own_caches

    toks = df.select("doc_id", _tokens(col).alias("__w"))
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("__w") >= 2,
                F.expr(
                    "transform(sequence(1, size(__w) - 1),"
                    " i -> struct("
                    "  md5(element_at(__w, i)) as h1,"
                    "  md5(element_at(__w, i + 1)) as h2))"
                ),
            ).otherwise(
                F.expr("array()").cast("array<struct<h1:string,h2:string>>")
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.h1").alias("h1"), F.col("bg.h2").alias("h2"))
    c2t = pairs.groupBy("h1", "h2").agg(F.count("*").alias("c2")).persist()
    c1t = c2t.groupBy("h1").agg(
        F.sum("c2").alias("c1"), F.count("*").alias("n1f")
    )
    pct = c2t.groupBy("h2").agg(F.count("*").alias("n1p"))
    nt = c2t.agg(F.count("*").alias("ntot"))
    p_micro = F.expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0))"
        " * ((4 * CAST(c2 AS DECIMAL(38,0)) - 3) * ntot"
        "    + 3 * CAST(n1f AS DECIMAL(38,0)) * n1p)) DIV"
        " (4 * CAST(c1 AS DECIMAL(38,0)) * ntot) AS BIGINT)"
    )
    scored = (
        pairs.join(c2t, ["h1", "h2"])
        .join(c1t, "h1")
        .join(pct, "h2")
        .crossJoin(F.broadcast(nt))
        .select("doc_id", p_micro.alias("p"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("__n"), F.sum("p").alias("__s"))
        .select(
            "doc_id",
            F.col("__n").cast("long").alias("n_bigrams"),
            F.expr("div(__s, __n)").cast("long").alias("kn_score_micro"),
        )
    )
    out = df.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias(
            "n_bigrams"
        ),
        F.coalesce(F.col("kn_score_micro"), F.lit(0).cast("long")).alias(
            "kn_score_micro"
        ),
    )
    return _own_caches(out, [c2t])


#: dsir_weights hashed-feature bucket count. Fixed — operator contract.
DSIR_BUCKETS = 64


def _window_hash_col(tok_col: str, width: int, stride: int = 1) -> Column:
    """md5 hashes of ``width``-token windows starting every ``stride``
    tokens (1-based starts) over an ALREADY-HOISTED token-array column;
    hoisting is the caller's job so the split never re-runs inside the
    lambda (the O(words²) trap). Shared by dup_span_detect,
    substring_dedup_cut, and dedup.cross_snapshot_novelty — one copy of
    the engine-parity-critical hashing, one place to change it."""
    n = F.size(tok_col)
    return F.when(
        n >= width,
        F.transform(
            F.sequence(F.lit(1), n - width + 1, F.lit(stride)),
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(F.col(tok_col), i, width))
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))


def _md5_bucket(expr: str, n: int = DSIR_BUCKETS) -> str:
    """SQL for the cross-engine hash bucket: low byte of the md5 digest
    mod n. DuckDB's ``md5_number`` is the signed little-endian int128
    of the digest, so ``((md5_number(t) % n) + n) % n`` equals byte 0
    mod n — which is ``conv(substring(md5(t),1,2),16,10) % n`` here
    (requires n ≤ 256 dividing 256)."""
    return f"pmod(cast(conv(substring(md5({expr}), 1, 2), 16, 10) as int), {n})"


def dsir_weights(
    df: DataFrame, target_df: DataFrame, col: str = "text"
) -> DataFrame:
    """DSIR data selection (Xie et al., "Data Selection for Language
    Models via Importance Resampling", arXiv:2302.03169): estimate
    target and raw feature distributions over hashed unigram buckets,
    then give every raw document an importance log-weight — the sum
    over its tokens of the bucket's add-one-smoothed log-likelihood
    ratio. Documents scoring >0 look more target-like than raw-like
    (DSIR resamples by these weights; the flag is the selection
    signal).

    Determinism: the ratio inside ln() is a double quotient of exact
    integer products (< 2^53, identical bits both engines), ln is the
    only libm call and is quantized to integer micro-units per BUCKET
    (≤64 values) before the exact per-document integer sum — no float
    summation order anywhere. ln() is NOT correctly-rounded in either
    engine (the CLAUDE.md sqrt-vs-pow hazard class), so floor(ln·1e6)
    could in principle flip at a micro-unit boundary; with |ln|≈O(1),
    1-ulp ≈ 2e-16 and a 1e-6 quantum that is P ≈ 2e-10 per bucket,
    ≈ 1e-8 per run over 64 buckets — the same accepted-risk class as
    tfidf's round(·,4) over 15k values, kept because Σ log-ratio IS the
    DSIR weight (a rational-only Σ ratio would change the estimator).

    Scale shape: the bucket table is ≤64 rows (two aggregates with
    map-side partials, token text reduced to a 1-byte-derived bucket
    int before the exchange), broadcast back onto the token stream;
    the per-doc sum is one exchange on doc_id."""
    b = DSIR_BUCKETS
    bucket = F.expr(_md5_bucket("x"))
    tok = df.select(
        "doc_id", F.explode(_tokens(col)).alias("x")
    ).select("doc_id", bucket.alias("bucket"))
    ttok = target_df.select(F.explode(_tokens(col)).alias("x")).select(
        bucket.alias("bucket")
    )
    s_tab = tok.groupBy("bucket").agg(F.count("*").alias("s_cnt"))
    t_tab = ttok.groupBy("bucket").agg(F.count("*").alias("t_cnt"))
    s_tot = s_tab.agg(F.sum("s_cnt").alias("s_total"))
    t_tot = t_tab.agg(F.sum("t_cnt").alias("t_total"))
    lr = (
        s_tab.join(t_tab, "bucket", "left")
        .crossJoin(F.broadcast(s_tot))
        .crossJoin(F.broadcast(t_tot))
        .select(
            "bucket",
            F.floor(
                F.log(
                    (
                        (F.coalesce(F.col("t_cnt"), F.lit(0)) + 1)
                        * (F.col("s_total") + b)
                    ).cast("double")
                    / ((F.col("s_cnt") + 1) * (F.col("t_total") + b)).cast(
                        "double"
                    )
                )
                * 1e6
            )
            .cast("long")
            .alias("term_micro"),
        )
    )
    per_doc = (
        tok.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("term_micro").cast("long").alias("dsir_logw_micro"),
        )
    )
    return df.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
        F.coalesce(F.col("dsir_logw_micro"), F.lit(0).cast("long")).alias(
            "dsir_logw_micro"
        ),
        (F.coalesce(F.col("dsir_logw_micro"), F.lit(0)) > 0).alias("selected"),
    )


def quality_tiers(df: DataFrame, bench_df: DataFrame, col: str = "text") -> DataFrame:
    """Tier extraction — the composed quality funnel of a production
    pretraining pipeline (C4 → Gopher → FineWeb lineage): every
    document gets its rule-filter verdict, exact-duplicate flag,
    benchmark-contamination flag, and repetition signal, composed into
    a tier: ``discard`` (contaminated or exact duplicate), ``low``
    (fails the Gopher rules or repetitive), ``medium`` (passes rules),
    ``high`` (passes rules with zero duplicated words). The per-signal
    columns are kept so downstream mixing can re-weight tiers instead
    of re-running the funnel.

    Scale shape: composition of already-scale-safe parts — the rule
    signals are per-row JVM expressions, exact-dup is an md5 groupBy
    (hash+id exchange only), contamination broadcasts the bounded
    eval-set gram table; one final exchange keys everything back on
    doc_id."""
    from pyspark.sql.window import Window

    g = gopher_rules(df, col).select(
        "doc_id", "n_words", "gopher_pass"
    )
    rep = repetition_score(df, col).select(
        "doc_id", "dup_word_frac", "is_repetitive"
    )
    dup = (
        df.select("doc_id", F.md5(F.col(col)).alias("__h"))
        .withColumn(
            "is_dup",
            F.col("doc_id") > F.min("doc_id").over(Window.partitionBy("__h")),
        )
        .select("doc_id", "is_dup")
    )
    cont = decontaminate(df, bench_df, col).select("doc_id", "contaminated")
    tier = (
        F.when(F.col("contaminated") | F.col("is_dup"), F.lit("discard"))
        .when(~F.col("gopher_pass") | F.col("is_repetitive"), F.lit("low"))
        .when(F.col("dup_word_frac") == 0.0, F.lit("high"))
        .otherwise(F.lit("medium"))
    )
    return (
        g.join(rep, "doc_id")
        .join(dup, "doc_id")
        .join(cont, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "gopher_pass",
            "is_repetitive",
            "is_dup",
            "contaminated",
            tier.alias("tier"),
        )
    )


#: line_dedup drops lines occurring more than this many times corpus-wide.
#: Fixed — part of the operator contract (the oracle replays it verbatim).
LINE_DEDUP_MAX_COUNT = 2


def line_dedup(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    max_count: int = LINE_DEDUP_MAX_COUNT,
) -> DataFrame:
    """Corpus-level line deduplication — the C4 boilerplate filter
    (Raffel et al., arXiv:1910.10683 §2.2: "we discarded ... any line
    that occurred more than [N] times"): split every document on
    newlines, count each line's occurrences across the WHOLE corpus,
    drop lines seen more than ``max_count`` times, and reassemble each
    document from its surviving lines in original order.

    Scale shape: the occurrence count aggregates on ``md5(line)`` with
    map-side partial aggregation, so only (16-byte hash, count) crosses
    that exchange — never line text. The over-threshold hash set is a
    tiny filtered aggregate (boilerplate is rare among distinct lines);
    AQE broadcasts it into the probe join at runtime. The single text
    shuffle is the unavoidable reassembly exchange on (id, line_idx,
    line).
    """
    from ocr_spark.operators.dedup import _own_caches

    # the exploded (id, idx, line, hash) frame feeds both the count
    # side and the probe side — persist so the corpus splits+hashes
    # once (GC-tied release, the dedup.py cache-ownership pattern)
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(col), "\n")).alias("line_idx", "line"),
    ).withColumn("lh", F.md5(F.col("line"))).persist()
    bad = (
        lines.groupBy("lh")
        .count()
        .filter(F.col("count") > max_count)
        .select("lh", F.lit(True).alias("is_bad"))
    )
    marked = lines.join(bad, "lh", "left")
    survivor = F.when(F.col("is_bad").isNull(), F.col("line"))
    result = marked.groupBy(id_col).agg(
        F.concat_ws("\n", ordered_list("line_idx", survivor)).alias(
            "clean_text"
        ),
        F.count(F.lit(1)).alias("n_lines"),
        F.count("is_bad").alias("n_dropped"),
    )
    return _own_caches(result, [lines])


#: dup_span_detect window geometry. Fixed — operator contract.
DUP_SPAN_WIDTH = 20
DUP_SPAN_STRIDE = 10


def dup_span_detect(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    width: int = DUP_SPAN_WIDTH,
    stride: int = DUP_SPAN_STRIDE,
) -> DataFrame:
    """Exact duplicated-span detection — the substring-dedup signal of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (arXiv:2107.06499), in its scalable stride-sampled form:
    hash one ``width``-token window every ``stride`` tokens, count each
    window's occurrences corpus-wide, and report per document how many
    of its windows are duplicated (global count > 1, within-doc repeats
    included — they are duplication too).

    Scale shape: windows travel as md5 hashes; the count exchange
    carries (hash, partial count) only, the duplicated-hash set joins
    back hash-to-hash (AQE broadcasts it when small), and document text
    never crosses an exchange.
    """
    from ocr_spark.operators.dedup import _own_caches

    # the hashed-window arrays feed the count side, the probe side,
    # and the final per-doc stats — persist so the tokenize+md5 pass
    # runs once (hash-only frame, no text; GC-tied release). Tokens are
    # hoisted so the window lambda slices a column, not a per-element
    # re-split of the text.
    base = (
        df.select(F.col(id_col), _tokens(col).alias("__ts"))
        .select(
            F.col(id_col), _window_hash_col("__ts", width, stride).alias("hs")
        )
        .select(id_col, "hs", F.size("hs").cast("long").alias("n_spans"))
        .persist()
    )
    ex = base.select(id_col, F.explode("hs").alias("h"))
    dup = ex.groupBy("h").count().filter(F.col("count") > 1).select("h")
    hits = ex.join(dup, "h").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n_dup")
    )
    n_dup = F.coalesce(F.col("__n_dup"), F.lit(0)).cast("long")
    result = (
        base.drop("hs")
        .join(hits, id_col, "left")
        .select(
            id_col,
            "n_spans",
            n_dup.alias("n_dup_spans"),
            F.round(
                F.when(
                    F.col("n_spans") > 0,
                    n_dup.cast("double") / F.col("n_spans").cast("double"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("dup_span_frac"),
            (n_dup > 0).alias("is_duplicated"),
        )
    )
    return _own_caches(result, [base])


#: substring_dedup_cut window width (tokens). Fixed — operator contract.
SUBSTR_CUT_WIDTH = 8


def substring_dedup_cut(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    width: int = SUBSTR_CUT_WIDTH,
) -> DataFrame:
    """Exact-substring deduplication with REMOVAL — the second half of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (arXiv:2107.06499): where :func:`dup_span_detect` only
    scores duplication, this operator CUTS every duplicated span out of
    the corpus while keeping exactly one canonical copy. Every
    ``width``-token window (stride 1) is hashed; a window occurrence is
    *redundant* when its hash occurs more than once corpus-wide and the
    occurrence is not the global minimum under (doc_id, position) — the
    keep-first rule, so the earliest document retains the text. Each
    document's tokens covered by any redundant window are removed and
    the document is reassembled from the survivors in original order.

    Scale shape: window hashing is a per-row higher-order transform over
    a hoisted token array (the split runs once per document, never per
    gram). The canonical-occurrence aggregate shuffles (id, position,
    md5) — never text; redundant coverage is (id, int) pairs collapsed
    to one int-set per document; document text itself crosses no
    exchange until the final probe join, where the covered side is the
    rare-duplicate set (AQE broadcasts it when small). Reassembly is a
    JVM two-arg ``filter`` lambda over the already-hoisted token array —
    no explode of text tokens, no text reshuffle.
    """
    from ocr_spark.operators.dedup import _own_caches

    # hoisted token array: feeds window hashing AND final reassembly
    base = df.select(F.col(id_col), _tokens(col).alias("__ts")).persist()
    hs = _window_hash_col("__ts", width)
    wins = base.select(F.col(id_col), F.posexplode(hs).alias("pos0", "h")).select(
        id_col, (F.col("pos0") + 1).alias("i"), "h"
    )
    canon = wins.groupBy("h").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct(F.col(id_col).alias("d"), F.col("i").alias("p"))).alias(
            "__first"
        ),
    )
    redundant = (
        wins.join(canon, "h")
        .filter(
            (F.col("cnt") > 1)
            & ~(
                (F.col(id_col) == F.col("__first.d"))
                & (F.col("i") == F.col("__first.p"))
            )
        )
        .select(id_col, "i")
    )
    covered = (
        redundant.select(
            id_col,
            F.explode(F.sequence(F.col("i"), F.col("i") + (width - 1))).alias(
                "__idx"
            ),
        )
        .groupBy(id_col)
        .agg(F.collect_set("__idx").alias("__cut"))
    )
    joined = base.join(covered, id_col, "left").withColumn(
        "__cutset", F.coalesce(F.col("__cut"), F.expr("CAST(array() AS ARRAY<INT>)"))
    )
    kept = F.filter(
        F.col("__ts"),
        lambda t, p: ~F.array_contains(F.col("__cutset"), p + F.lit(1)),
    )
    n_tokens = F.size("__ts").cast("long")
    n_cut = F.size("__cutset").cast("long")
    result = joined.select(
        id_col,
        n_tokens.alias("n_tokens"),
        n_cut.alias("n_cut"),
        F.round(
            n_cut.cast("double") / n_tokens.cast("double"), 4
        ).alias("cut_frac"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )
    return _own_caches(result, [base])


#: BM25 parameters — fixed operator contract (k1=1.2, b=0.75, Lucene
#: +1 idf so scores are always positive; 1e6 micro-unit quantization).
BM25_K1_X10 = 12
BM25_B_X100 = 75
BM25_MICRO = 1_000_000


def _two_phase_rank(
    df: DataFrame,
    group_cols: "list[str]",
    order_cols: "list[Column]",
    id_col: str,
    limit,
    prune_shards: int = 64,
) -> DataFrame:
    """The shared two-phase per-group top-k shape (bm25_topk /
    domain_cap / stratified_split): a per-(group, shard) row_number
    prune to the limit, then the final rank over ≤ shards·limit
    survivors — so a head group with billions of rows never funnels
    into one partition.  ``limit`` is an int or a per-row Column (a
    broadcast-joined per-group quota).  Emits ``__rank`` (int) with
    rows already filtered to __rank <= limit.  Requires an INTEGRAL
    ``id_col``: pmod on a string id plans without complaint and fails
    (or silently casts) only when an action runs, so any other type
    raises TypeError here, while the plan is built."""
    from pyspark.sql import Window
    from pyspark.sql.types import IntegralType

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, IntegralType):
        raise TypeError(
            f"_two_phase_rank: id column {id_col!r} must be integral,"
            f" got {id_type.simpleString()}"
        )
    lim = F.lit(limit) if isinstance(limit, int) else limit
    shard = F.pmod(F.col(id_col), F.lit(prune_shards))
    w1 = Window.partitionBy(*group_cols, "__shard").orderBy(*order_cols)
    pruned = (
        df.withColumn("__shard", shard)
        .withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= lim)
        .drop("__shard", "__r")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return pruned.withColumn("__rank", F.row_number().over(w2)).filter(
        F.col("__rank") <= lim
    )


def bm25_topk(
    df: DataFrame,
    queries: "tuple[str, ...]",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    prune_shards: int = 64,
) -> DataFrame:
    """Inverted-index BM25 retrieval (Robertson et al., Okapi TREC-3;
    the Lucene ``+1`` idf variant) — the search leg of a training-data
    pipeline (retrieval-based decontamination, corpus exploration):
    score every document against each query and return the top ``k``
    per query under the total order (score desc, doc_id asc).

    Cross-engine determinism: the per-term score is computed in EXACT
    integer arithmetic. With S = Σ document lengths, N = corpus size,
    idf_micro = floor(1e6·ln((N−df+0.5)/(df+0.5)+1)) — the only
    transcendental, one call per distinct query term — the k1=1.2,
    b=0.75 term score is the single integer division

        idf_micro·tf·22·S  div  (10·S·tf + 3·S + 9·dl·N)

    evaluated in decimal(38,0) on the JVM and HUGEINT in the oracle, so
    no intermediate overflows at any corpus size and per-doc sums are
    order-free integer sums.

    Scale shape: only tokens matching the (literal, broadcast) query
    term set survive the explode, so the tf aggregate shuffles
    (id, term, count) for matching terms only; the df/idf table is
    term-sized and broadcasts; top-k is TWO-phase — per (query, shard)
    row_number prune to k, then a final rank over ≤ shards·k survivors
    — never a single-partition window over the full match set.
    """
    spark = df.sparkSession
    qterms = sorted(
        {(qi, t) for qi, q in enumerate(queries) for t in q.split(" ") if t}
    )
    term_list = sorted({t for _, t in qterms})
    qdf = spark.createDataFrame(qterms, "query_id int, term string")

    base = df.select(
        F.col(id_col), F.size(_tokens(text_col)).alias("dl"),
        F.explode(_tokens(text_col)).alias("term"),
    ).filter(F.col("term").isin(term_list))
    tf = base.groupBy(id_col, "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # corpus constants: one single-row aggregate (the TF-IDF broadcast-
    # aggregate precedent) — N docs, S total tokens
    n_docs, sum_dl = (
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size(_tokens(text_col))).alias("s"),
        ).collect()[0]
    )
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf_u = F.floor(
        F.lit(float(BM25_MICRO))
        * F.log(
            (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        )
    ).cast("long")
    idf = idf.select("term", idf_u.alias("idf_u"))

    term_score = F.expr(
        f"CAST((CAST(idf_u AS DECIMAL(38,0)) * tf * 22 * {sum_dl}) DIV "
        f"(CAST(10 AS DECIMAL(38,0)) * {sum_dl} * tf + 3 * {sum_dl}"
        f" + 9 * dl * {n_docs}) AS BIGINT)"
    )
    scored = (
        tf.join(F.broadcast(qdf), "term")
        .join(F.broadcast(idf), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum(term_score).alias("score_micro"))
    )
    return _two_phase_rank(
        scored,
        ["query_id"],
        [F.desc("score_micro"), F.asc(id_col)],
        id_col,
        k,
        prune_shards,
    ).select(
        "query_id",
        id_col,
        F.col("__rank").alias("rank"),
        "score_micro",
    )


#: classifier_score fixed model — 64 integer micro-weights over hashed
#: unigram buckets + a bias, in 1e-6 logit units. The weights are a
#: deterministic stand-in (Knuth multiplicative scatter): the operator
#: contract is the INFERENCE plumbing — hashed bag-of-words features,
#: integer dot product — not the training. Both engines consume the
#: same literal table, so scores are bit-exact by construction.
CLF_BUCKETS = 64
CLF_BIAS_MICRO = -150_000
CLF_WEIGHTS_MICRO = tuple(
    ((b * 2654435761) % 1_000_003) % 200_001 - 100_000
    for b in range(CLF_BUCKETS)
)


def classifier_score(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Linear quality-classifier inference — the FineWeb-Edu / DCLM
    shape: a model filter scoring every document with a linear layer
    over hashed bag-of-words features (fastText's hashing trick). Each
    token hashes to one of 64 buckets (md5 low byte — the DSIR bucket,
    replayable via DuckDB ``md5_number``), the bucket's integer
    micro-weight accumulates, and the document's logit is
    bias + Σ w[bucket(tok)] — an exact integer, so label boundaries
    are bit-stable across engines and reruns.

    Scale shape: the weight table is a 64-element literal array and the
    whole score is ONE per-row higher-order aggregate over the hoisted
    token array — zero exchanges, whole-stage codegen, no Python. This
    is the plan a model-based filter needs at 100 TB: classifier
    inference must be embarrassingly parallel or it dominates the run.
    """
    w_arr = "array(" + ", ".join(str(int(x)) for x in CLF_WEIGHTS_MICRO) + ")"
    per_tok = (
        f"transform(__ts, t -> element_at({w_arr},"
        f" {_md5_bucket('t', CLF_BUCKETS)} + 1))"
    )
    logit = F.expr(
        f"{CLF_BIAS_MICRO}L + aggregate({per_tok}, 0L, (a, x) -> a + x)"
    )
    return df.select(F.col(id_col), _tokens(col).alias("__ts")).select(
        id_col,
        F.size("__ts").cast("long").alias("n_tokens"),
        logit.alias("logit_micro"),
        (logit > 0).alias("label"),
    )


#: domain_cap parameters — fixed operator contract.
DOMAIN_CAP_K = 50
DOMAIN_CAP_SALT = "cap0"


def domain_cap(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    k: int = DOMAIN_CAP_K,
    salt: str = DOMAIN_CAP_SALT,
    prune_shards: int = 64,
) -> DataFrame:
    """Per-domain document cap — the anti-skew sampler every web corpus
    runs (no single domain may dominate the mixture): keep at most
    ``k`` documents per domain, chosen by the deterministic
    pseudo-random order (md5(salt:doc_id) asc, doc_id asc) so the cap
    is a uniform sample that is stable across reruns and engines.

    Scale shape: only (domain, id, 32-byte key) ever shuffles, and the
    cap is TWO-phase — a per-(domain, shard) row_number prune to k,
    then the final rank over ≤ shards·k survivors per domain — so a
    head domain with billions of documents never funnels into one
    partition."""
    key = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    base = df.select(F.col(domain_col).alias("domain"), F.col(id_col)).withColumn(
        "__key", key
    )
    return _two_phase_rank(
        base,
        ["domain"],
        [F.asc("__key"), F.asc(id_col)],
        id_col,
        k,
        prune_shards,
    ).select("domain", id_col, F.col("__rank").alias("rank"))


#: winnowing parameters — fixed operator contract (Schleimer et al.,
#: SIGMOD 2003 "Winnowing: Local Algorithms for Document Fingerprinting"):
#: k-gram size 4 tokens, window 4 grams ⇒ guarantee threshold
#: t = w + k − 1 = 7 tokens (any shared run of ≥7 tokens is detected).
WINNOW_K = 4
WINNOW_W = 4


def winnow_fingerprint(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Winnowing document fingerprints — the MOSS algorithm: hash every
    ``k``-token gram, slide a ``w``-gram window, and keep each window's
    minimal hash (ties by leftmost position) as a positional
    fingerprint. Guarantees every shared token run of length
    ≥ w + k − 1 contributes at least one common fingerprint between the
    two documents, with a fingerprint density of ~2/(w+1) — the classic
    copy-detection sketch that sits between exact-substring dedup
    (every window) and MinHash (no positions).

    Engine parity: the per-window argmin is encoded as the plain string
    minimum of ``md5_hex || lpad(position, 12)`` — 32 lowercase hex
    chars then a zero-padded decimal (12 digits because lpad TRUNCATES
    beyond its width in both engines; Spark's 2 GB string cap bounds
    token positions well below 1e12) — so Spark's ``array_min`` and
    DuckDB's ``list_min`` agree byte-for-byte with no struct-ordering
    semantics in play.

    Scale shape: everything up to the final explode is per-row
    higher-order lambdas over hoisted arrays (token array → gram-hash
    array → keyed array → window-min array) — zero exchanges, no
    Python. Docs shorter than ``k`` tokens emit nothing; docs with
    1 ≤ n_grams < w emit one whole-array fingerprint (the standard
    short-document degeneration)."""
    base = df.select(F.col(id_col), _tokens(col).alias("__ts"))
    n = F.size("__ts")
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__ts"), i, k))),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    g = base.select(F.col(id_col), grams.alias("__gs")).select(
        id_col,
        F.size("__gs").alias("__ng"),
        F.transform(
            F.col("__gs"),
            lambda h, i: F.concat(
                h, F.lpad((i + 1).cast("string"), 12, "0")
            ),
        ).alias("__kg"),
    )
    wins = F.when(
        F.col("__ng") >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.col("__ng") - (w - 1), F.lit(1))
                ),
                lambda j: F.array_min(F.slice(F.col("__kg"), j, w)),
            )
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    return g.select(F.col(id_col), F.explode(wins).alias("__fp")).select(
        id_col,
        F.substring("__fp", 33, 12).cast("int").alias("pos"),
        F.substring("__fp", 1, 32).alias("gram_hash"),
    )


#: chunking parameters — fixed operator contract: 64-token chunks on a
#: 48-token stride (16-token overlap between consecutive chunks).
CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def chunk_overlap(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Context-window chunking — the sequence-prep step between a
    cleaned corpus and the trainer (and the passage splitter for
    retrieval): cut each document into ``size``-token chunks on a
    ``stride``-token grid so consecutive chunks overlap by
    ``size − stride`` tokens and no token span longer than the overlap
    is lost at a boundary. Chunk starts are 1, 1+stride, … ≤ n_tokens,
    so the tail chunk may be short; single-token and empty documents
    emit exactly one chunk. A trailing start whose chunk would be
    entirely contained in the previous chunk (tail ≤ the overlap, i.e.
    start > n − (size − stride)) is dropped — it would double-feed
    those tokens to the trainer with zero new content.

    Scale shape: one per-row transform over the hoisted token array
    plus a posexplode — zero exchanges, no Python; the parallel axis is
    documents and the output is ~n/stride rows per doc.

    NULL-text documents emit nothing (split(NULL) is NULL, size() = -1
    — without the filter the doc would still emit one chunk row with
    n_chunk_tokens = -1, diverging from the oracle's NULL arithmetic)."""
    base = df.filter(F.col(col).isNotNull()).select(
        F.col(id_col), _tokens(col).alias("__ts")
    )
    n = F.size("__ts")
    chunks = F.transform(
        F.filter(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride)),
            lambda s: (s == 1) | (s <= n - (size - stride)),
        ),
        lambda s: F.struct(
            s.cast("int").alias("start_tok"),
            F.least(F.lit(size), n - s + 1).cast("int").alias("n_chunk_tokens"),
            F.concat_ws(" ", F.slice(F.col("__ts"), s, size)).alias("chunk_text"),
        ),
    )
    return base.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "__c")
    ).select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("__c.start_tok"),
        F.col("__c.n_chunk_tokens"),
        F.col("__c.chunk_text"),
    )


#: Unicode script ranges — explicit codepoint intervals (NOT \\p{...}
#: classes, whose membership tables differ between Java regex and RE2),
#: so Spark and DuckDB count the exact same characters. Order fixes the
#: deterministic tie-break: earlier script wins equal counts.
SCRIPT_RANGES = (
    ("latin", "A-Za-zÀ-ɏ"),
    ("cyrillic", "Ѐ-ӿ"),
    ("greek", "Ͱ-Ͽ"),
    ("arabic", "؀-ۿ"),
    ("devanagari", "ऀ-ॿ"),
    ("cjk", "一-鿿"),
    ("hangul", "가-힯"),
)


def _script_winner(col: Column):
    """Per-script character counts, their total, and the argmax winner
    key for ``col`` — the string-encoded argmax
    ``lpad(count, 12) || lpad(priority, 2) || name`` shared by
    script_detect (documents) and script_segments (lines); no struct
    comparison semantics involved (12 digits: lpad TRUNCATES beyond
    its width in both engines, and Spark's 2 GB string cap bounds
    counts below 1e10)."""
    counts = {
        name: F.length(F.regexp_replace(col, f"[^{rng}]", "")).cast("long")
        for name, rng in SCRIPT_RANGES
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    nscripts = len(SCRIPT_RANGES)
    keys = [
        F.concat(
            F.lpad(c.cast("string"), 12, "0"),
            F.lpad(F.lit(str(nscripts - i)), 2, "0"),
            F.lit(name),
        )
        for i, (name, c) in enumerate(counts.items())
    ]
    return counts, total, F.greatest(*keys)


def script_detect(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode-script detection — the scaffolding under any real
    language-ID stage (fastText-style lang-id first separates scripts,
    then disambiguates within one): count characters in seven explicit
    script ranges and label each document with the dominant script
    (ties broken by the fixed SCRIPT_RANGES order, ``unknown`` when no
    script character occurs). ``script_conf`` is the winner's share of
    all script characters, rounded to 4 decimals.

    The argmax is the engine-neutral string encoding from
    :func:`_script_winner`. Entirely JVM regexp counts — zero
    exchanges, no Python."""
    counts, total, winner = _script_winner(F.col(col))
    label = F.when(total == 0, F.lit("unknown")).otherwise(
        F.substring(winner, 15, 16)
    )
    conf = F.when(total == 0, F.lit(0.0)).otherwise(
        F.round(
            F.substring(winner, 1, 12).cast("double") / total.cast("double"), 4
        )
    )
    return df.select(
        id_col,
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        label.alias("script"),
        conf.alias("script_conf"),
    )


def script_segments(
    df: DataFrame,
    col: str = "line_text",
    id_col: str = "doc_id",
    idx_col: str = "line_idx",
) -> DataFrame:
    """Code-switching segmentation — multilingual crawl documents mix
    scripts line by line (quoted sources, bilingual pages, spam); a
    tokenizer-budget or lang-routing stage needs the CONTIGUOUS runs,
    not just the per-doc majority that :func:`script_detect` reports.
    Each input line gets its dominant script (same explicit codepoint
    ranges, ``unknown`` when none), then consecutive same-script lines
    merge into segments numbered 0.. by :func:`runs.run_ids`.

    Scale shape: the script label is a map-side JVM regexp argmax; the
    run window and the segment aggregation both partition on the
    document id — one exchange and one window sort total, and only
    (id, idx, 16-char label) rows cross it."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(idx_col)
    _, total, winner = _script_winner(F.col(col))
    label = F.when(total == 0, F.lit("unknown")).otherwise(
        F.substring(winner, 15, 16)
    )
    lab = df.select(
        id_col,
        F.col(idx_col).cast("int").alias(idx_col),
        label.alias("script"),
    )
    isl = lab.withColumn(
        "seg_idx", run_ids(w, changed("script", w)).cast("int")
    )
    # script stays in the group key: grouping on the run id alone with
    # min(script) plans a sort aggregate, a second sort
    seg = isl.groupBy(id_col, "script", "seg_idx").agg(
        F.min(idx_col).cast("int").alias("start_line"),
        F.max(idx_col).cast("int").alias("end_line"),
        F.count("*").cast("long").alias("n_lines"),
    )
    return seg.select(
        id_col,
        "seg_idx",
        "script",
        "start_line",
        "end_line",
        "n_lines",
    )


#: Histogram quantile sketch geometry: 64 buckets of 32 characters.
#: The bucket-count vector IS the sketch — mergeable by plain vector
#: addition, so partial aggregation combines map-side and shards /
#: releases merge by summing counts; estimates are bucket UPPER edges
#: (exact integers — no interpolation float to diverge).
HIST_BUCKET_W = 32
HIST_BUCKETS = 64


def hist_quantiles(
    df: DataFrame, col: str = "text", group_col: str = "lang"
) -> DataFrame:
    """Mergeable histogram quantile sketch — the distributed-quantile
    sibling of kmv/hll/cms (exact quantiles need a global sort; a 100
    TB profile job wants a fixed-size mergeable state instead): bucket
    every document's character length into ``HIST_BUCKETS`` fixed
    ``HIST_BUCKET_W``-char bins (top bin open-ended), count per
    (group, bucket), and read p50/p90/p99 as the upper edge of the
    first bucket whose running count reaches ``ceil(p·total)`` — the
    integer test ``cum·100 >= total·p``.

    Scale shape: the only data-sized exchange is the partial-combined
    (group, bucket) count — at most 64 rows per group reach the
    reducer; the per-group running sum and the final min-edge
    aggregation both stay on the group key (one more tiny exchange of
    64-row groups)."""
    from pyspark.sql.window import Window

    bucket = F.least(
        F.expr(f"length(coalesce({col}, '')) DIV {HIST_BUCKET_W}"),
        F.lit(HIST_BUCKETS - 1),
    ).cast("int")
    c = (
        df.select(F.col(group_col), bucket.alias("__b"))
        .groupBy(group_col, "__b")
        .agg(F.count("*").cast("long").alias("__n"))
    )
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = c.select(
        group_col,
        "__b",
        F.sum("__n").over(w_cum).alias("__cum"),
        F.sum("__n").over(w_tot).alias("__tot"),
    )

    def est(p: int) -> Column:
        return F.min(
            F.when(
                F.col("__cum") * 100 >= F.col("__tot") * p,
                (F.col("__b") + 1).cast("long") * HIST_BUCKET_W,
            )
        )

    return r.groupBy(group_col).agg(
        F.max("__tot").cast("long").alias("n_docs"),
        est(50).alias("p50_chars"),
        est(90).alias("p90_chars"),
        est(99).alias("p99_chars"),
    )


#: DOM block pattern: a top-level <p>/<div> whose body is text with
#: optionally interleaved anchors. RE2-safe (no lookaround, no
#: backreferences) so Spark's Java regex and DuckDB's RE2 extract the
#: exact same blocks. Capture group 1 = the block body.
DOM_BLOCK_RE = (
    "<(?:p|div)[^>]*>([^<]*(?:<a[^>]*>[^<]*</a>[^<]*)*)</(?:p|div)>"
)
DOM_ANCHOR_RE = "<a[^>]*>([^<]*)</a>"
#: Keep thresholds: a content block has at least this many stripped
#: text characters and at most this much anchor-text share (ppm).
DOM_MIN_TEXT = 20
DOM_MAX_LINK_E6 = 300_000


def dom_density_blocks(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """DOM-density main-content heuristics over RAW HTML — the Arc90
    Readability / BTE block classifier: split the payload into its
    top-level <p>/<div> blocks, strip tags, and keep the blocks whose
    text-to-tag ratio is high and block-level link density is low
    (navigation bars and footers are short and anchor-dominated;
    content paragraphs are long and anchor-sparse).  This is the
    boilerplate-strip stage that runs BEFORE jusText-style paragraph
    classification when the input is markup rather than plain text.

    Per block: stripped text length, anchor count, anchor-text share
    in exact ppm (``1e6·anchor_chars DIV max(text_len, 1)``), and the
    keep flag ``text_len >= DOM_MIN_TEXT AND link_e6 <=
    DOM_MAX_LINK_E6``.

    Scale shape: ZERO exchanges — block extraction, tag stripping and
    the ratio math are per-row JVM regexp expressions; nothing ever
    shuffles.  Reference parity: the reference feeds page scans to a
    vision LLM that never sees markup; a crawl corpus needs exactly
    this stage (north-star 'DOM-density heuristics: text-to-tag
    ratio, block-level link density')."""
    blocks = F.regexp_extract_all(F.col(html_col), F.lit(DOM_BLOCK_RE), 1)
    b = df.select(
        id_col,
        F.posexplode(blocks).alias("block_idx", "__blk"),
    ).select(
        id_col,
        F.col("block_idx").cast("int").alias("block_idx"),
        F.regexp_replace(F.col("__blk"), "<[^>]*>", "").alias("__txt"),
        F.regexp_extract_all(
            F.col("__blk"), F.lit(DOM_ANCHOR_RE), 1
        ).alias("__anch"),
    )
    text_len = F.length("__txt").cast("long")
    n_anchors = F.size("__anch").cast("long")
    scored = b.select(
        id_col,
        "block_idx",
        text_len.alias("text_len"),
        n_anchors.alias("n_anchors"),
        F.expr(
            "CAST(1000000 * aggregate(__anch, 0L,"
            " (acc, x) -> acc + length(x))"
            " DIV greatest(length(__txt), 1) AS BIGINT)"
        ).alias("link_e6"),
        F.col("__txt").alias("block_text"),
    )
    kept = (F.col("text_len") >= DOM_MIN_TEXT) & (
        F.col("link_e6") <= DOM_MAX_LINK_E6
    )
    return scored.select(
        id_col,
        "block_idx",
        "text_len",
        "n_anchors",
        "link_e6",
        kept.alias("kept"),
        "block_text",
    )


#: Fixed literal keyword taxonomy (classifier_score's rule-based
#: sibling): topic → disjoint keyword tuple, ORDER IS CONTRACT (the
#: primary-tag tie-break prefers earlier topics).
TAXONOMY: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("joins", ("join", "merge", "hash", "key")),
    ("scan_io", ("scan", "filter", "line", "part")),
    ("aggregation", ("agg", "group", "window", "sort", "order")),
    ("streaming", ("stream", "batch")),
    ("layout", ("row", "column", "table", "vector")),
    ("performance", ("fast", "slow", "small", "big")),
)


def taxonomy_tag(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keyword-taxonomy topic tagging — the rule-based labeler that
    seeds every model classifier (and the cheap topic axis for mixture
    balancing): count each topic's keyword hits over the token array,
    emit one row per (doc, topic) with hits ≥ 1, and flag the primary
    topic (max hits; ties prefer the earlier topic in the literal
    taxonomy order).

    Scale shape: the taxonomy is a literal baked into the plan, every
    count is a per-row higher-order filter over the hoisted token
    array, and the primary flag is array arithmetic on the same row —
    ZERO exchanges, no Python, no keyword-table join anywhere. That is
    the only shape a tagger can afford at 100 TB: anything that joins
    docs against a keyword table re-shuffles the corpus."""
    hits = F.array(
        *[
            F.struct(
                F.lit(topic).alias("topic"),
                F.expr(
                    "size(filter(__ts, t -> t in ("
                    + ", ".join(f"'{k}'" for k in kws)
                    + ")))"
                )
                .cast("int")
                .alias("n_hits"),
            )
            for topic, kws in TAXONOMY
        ]
    )
    base = df.select(F.col(id_col), _tokens(col).alias("__ts")).select(
        F.col(id_col), hits.alias("__h")
    )
    # first index (1-based) holding the max hit count = primary topic
    primary_idx = F.expr(
        "array_position(transform(__h, x -> x.n_hits),"
        " array_max(transform(__h, x -> x.n_hits)))"
    )
    return (
        base.select(
            F.col(id_col),
            primary_idx.alias("__p"),
            F.posexplode("__h").alias("__i", "__x"),
        )
        .filter(F.col("__x.n_hits") > 0)
        .select(
            id_col,
            F.col("__x.topic").alias("topic"),
            F.col("__x.n_hits").alias("n_hits"),
            (F.col("__i") + 1 == F.col("__p")).alias("is_primary"),
        )
    )


#: reshard_by_bytes: target output-shard size in bytes. Fixed —
#: operator contract (the oracle replays start_off // this value).
RESHARD_TARGET_BYTES = 65536

#: reshard_by_bytes: prefix-sum bucket count — a CONSTANT knob, so the
#: bucket-offset frame is 256 rows at any corpus size.
RESHARD_BUCKETS = 256


def reshard_by_bytes(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    target_bytes: int = RESHARD_TARGET_BYTES,
) -> DataFrame:
    """Byte-capped output resharding — the corpus-export pass that
    turns N input files into roughly-equal ``target_bytes`` shards:
    documents are laid out in a deterministic pseudo-random order
    (md5 of the doc id, so shards are content-balanced regardless of
    input clustering) and each document's output shard is its exclusive
    running byte offset divided by the target.

    Scale shape: the global prefix sum is TWO-PHASE — the order key's
    first hex byte buckets the corpus into 256 groups (the bucket is a
    PREFIX of the key, so bucket-then-key equals global key order);
    within-bucket offsets are a partitioned window, and the cross-bucket
    offsets come from a 256-row aggregate frame (constant-bounded, the
    classic distributed prefix-sum shape) broadcast back onto the
    corpus. No global sort or single-partition window ever sees
    per-document rows; the exchanges carry (id, key, bytes) — never
    text. A shard may overrun target_bytes by at most one document
    (documents are never split), the standard export convention."""
    from pyspark.sql.window import Window

    key = F.md5(F.concat(F.lit("reshard:"), F.col(id_col).cast("string")))
    base = df.filter(F.col(col).isNotNull()).select(
        F.col(id_col),
        key.alias("key"),
        F.octet_length(F.col(col)).cast("long").alias("n_bytes"),
    )
    base = base.withColumn("bucket", F.substring("key", 1, 2))
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("key", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = base.withColumn(
        "__in_off",
        F.coalesce(F.sum("n_bytes").over(w_in), F.lit(0)).cast("long"),
    )
    # phase 2: 256-row bucket-total frame; the single-partition window
    # is over this CONSTANT-size aggregate, never over document rows
    totals = base.groupBy("bucket").agg(F.sum("n_bytes").alias("__t"))
    w_b = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "bucket",
        F.coalesce(F.sum("__t").over(w_b), F.lit(0))
        .cast("long")
        .alias("__b_off"),
    )
    start = (F.col("__b_off") + F.col("__in_off")).cast("long")
    return (
        within.join(F.broadcast(offsets), "bucket")
        .select(
            id_col,
            "n_bytes",
            start.alias("start_off"),
        )
        .select(
            id_col,
            "n_bytes",
            "start_off",
            F.expr(f"start_off DIV {int(target_bytes)}")
            .cast("long")
            .alias("out_shard"),
        )
    )


#: lm_perplexity_buckets threshold-sample size. Fixed — operator
#: contract (the oracle replays ORDER BY md5 LIMIT this value).
PPL_SAMPLE_N = 4096


def lm_perplexity_buckets(
    df: DataFrame, col: str = "text", sample_n: int = PPL_SAMPLE_N
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al.,
    arXiv:1911.00359 §4.3): split the corpus into head / middle / tail
    thirds by language-model fluency, the pass CCNet uses to pick
    training data quality strata. Fluency is the corpus bigram-LM score
    (:func:`ngram_lm_score`, integer micro-units); the two tertile
    thresholds are computed on a DETERMINISTIC bounded sample — the
    ``sample_n`` documents with the smallest ``md5('ppl:' || doc_id)``
    — exactly the CCNet convention of training thresholds on a sample
    and applying them as constants.

    Scale shape: the sample is a distributed TakeOrdered (never a
    global sort of the corpus) and its collect is bounded by the
    constant ``sample_n`` — the same FAISS-style bounded-driver-side
    pattern as the IVF quantizer training; thresholds then apply as
    broadcast literals, so the bucketing itself adds ZERO exchanges on
    top of the LM scoring. The scored frame is PERSISTED before the
    sample collect — the threshold pass and the returned plan share one
    LM-scoring execution instead of recomputing the corpus-wide bigram
    chain twice (cache released when the result is garbage-collected,
    the dedup._own_caches convention). Tie-break inside the sample is
    (score, doc_id) rank — integer-exact, so the DuckDB oracle replays
    the thresholds and the buckets bit-for-bit."""
    import math

    from ocr_spark.operators.dedup import _own_caches

    scored = ngram_lm_score(df, col).select(
        "doc_id", "n_bigrams", "lm_score_micro"
    ).persist()
    key = F.md5(F.concat(F.lit("ppl:"), F.col("doc_id").cast("string")))
    samp = (
        scored.select("lm_score_micro", "doc_id", key.alias("__k"))
        .orderBy("__k")
        .limit(sample_n)
        .select("lm_score_micro", "doc_id")
    )
    rows = sorted((r.lm_score_micro, r.doc_id) for r in samp.collect())
    m = len(rows)
    if m == 0:
        raise ValueError("lm_perplexity_buckets: empty corpus, no sample")
    t_low = int(rows[math.ceil(m / 3) - 1][0])
    t_high = int(rows[math.ceil(2 * m / 3) - 1][0])
    bucket = (
        F.when(F.col("lm_score_micro") > t_high, F.lit("head"))
        .when(F.col("lm_score_micro") > t_low, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    out = scored.select(
        "doc_id",
        "n_bigrams",
        "lm_score_micro",
        F.lit(t_low).cast("long").alias("t_low_micro"),
        F.lit(t_high).cast("long").alias("t_high_micro"),
        bucket.alias("ppl_bucket"),
    )
    return _own_caches(out, [scored])


#: CDC boundary window width (tokens) and divisor — a boundary opens
#: before token i when md5(tokens[i..i+3]) byte0 % 16 == 0, giving
#: ~16-token expected chunks. Fixed — operator contract.
CDC_WINDOW = 4
CDC_DIVISOR = 16


def cdc_chunk_dedup(df: DataFrame, col: str = "text") -> DataFrame:
    """Content-defined chunking + corpus-wide duplicate-chunk
    detection — the storage-dedup primitive (Muthitacharoen et al.,
    LBFS SOSP'01) applied at the token level: chunk boundaries fall
    where a rolling window hash satisfies ``H % 16 == 0``, so an
    insertion early in a document shifts ONLY the chunk it lands in —
    unlike fixed-stride chunking, every later chunk re-aligns and
    still matches its duplicates elsewhere in the corpus.

    Per chunk: position, token count, content hash, the corpus-wide
    occurrence count of that hash, and a keep-first flag ((doc_id,
    chunk_idx) order — the dedup-cut convention shared with
    substring_dedup_cut).

    Cross-engine exactness: the boundary predicate is the md5 digest's
    byte 0 mod 16 (Spark ``conv(substring(md5,1,2),16,10)`` ≡ DuckDB
    ``((md5_number % 16)+16)%16``), chunk hashes are md5 over the
    space-joined token slice — both already-proven parity primitives.

    Scale shape: chunking is per-row JVM array expressions over ONE
    hoisted token array (no O(words²) re-split); the only exchange
    carries (doc_id, chunk_idx, hash, len) — never text — into the
    per-hash count/rank window."""
    from pyspark.sql.window import Window

    W, D = CDC_WINDOW, CDC_DIVISOR
    toks = df.filter(F.col(col).isNotNull()).select(
        "doc_id", _tokens(col).alias("__t")
    )
    n = F.size("__t")
    # candidate boundary starts 2..n-W+1 (start 1 is implicit); Spark
    # sequence() DESCENDS when hi < lo, so the guard is mandatory
    low_byte = _md5_bucket(f"concat_ws(' ', slice(__t, i, {W}))", D)
    cuts = F.when(
        n >= W + 1,
        F.expr(
            f"filter(sequence(2, size(__t) - {W} + 1),"
            f" i -> {low_byte} = 0)"
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)"))
    seg = toks.select(
        "doc_id",
        "__t",
        F.concat(F.array(F.lit(1)), cuts.cast("array<int>")).alias("__ss"),
        F.concat(
            cuts.cast("array<int>"), F.array((n + 1).cast("int"))
        ).alias("__ee"),
    )
    chunks = seg.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "zip_with(__ss, __ee, (s, e) -> struct("
                " CAST(s AS INT) AS st,"
                " CAST(e - s AS INT) AS ln,"
                " md5(concat_ws(' ', slice(__t, s, e - s))) AS h))"
            )
        ).alias("chunk_idx", "__c"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("__c.st").alias("start_tok"),
        F.col("__c.ln").cast("long").alias("n_chunk_tokens"),
        F.col("__c.h").alias("chunk_hash"),
    )
    w_h = Window.partitionBy("chunk_hash")
    w_r = w_h.orderBy("doc_id", "chunk_idx")
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        "n_chunk_tokens",
        "chunk_hash",
        F.count("*").over(w_h).cast("long").alias("n_dup"),
        (F.row_number().over(w_r) == 1).alias("is_first"),
    )


def training_manifest(df: DataFrame, col: str = "text") -> DataFrame:
    """End-to-end training-data manifest — the composition a real
    pretraining run executes as ONE declarative plan: Gopher rule
    filter → deterministic md5 train-split membership → BPE token
    budget → packed-sequence layout. One row per surviving train
    document with its shard, subword token count, and packed position —
    exactly what a dataloader manifest file carries.

    Scale shape: composition of already-scale-safe parts joined on
    doc_id (rule signals and the split draw are per-row JVM
    expressions; packing is the per-shard window of
    :func:`pack_sequences`); Catalyst fuses the per-row stages, so the
    funnel costs its joins, not a pass per filter."""
    from ocr_spark.operators.bpe import bpe_token_count_expr

    base = df.filter(F.col(col).isNotNull())
    g = gopher_rules(base, col).select("doc_id", "gopher_pass")
    s = split_assign(base).select("doc_id", "split")
    kept = (
        base.select("doc_id", col)
        .join(g, "doc_id")
        .join(s, "doc_id")
        .filter(F.col("gopher_pass") & (F.col("split") == "train"))
        .select("doc_id", col)
    )
    return pack_sequences(kept, col, token_count=bpe_token_count_expr(col))


#: robots_filter ruleset — (type, path-prefix) pairs, the parsed form
#: of a robots.txt User-agent:* group. Fixed literal — operator
#: contract (both engines unroll the same longest-match comparison).
ROBOTS_RULES: tuple[tuple[str, str], ...] = (
    ("allow", "/"),
    ("disallow", "/private/"),
    ("allow", "/private/pub/"),
    ("disallow", "/tmp/"),
    ("disallow", "/search"),
)


def _robots_len_sql(
    path_expr: str, kind: str, starts_with: str = "startswith"
) -> str:
    """SQL for the longest matching rule prefix of ``kind`` (-1 when no
    rule matches): a greatest() over per-rule CASE prefix tests. ONE
    generator for both engines — only the prefix-test function name
    differs (Spark ``startswith``, DuckDB ``starts_with``), passed in
    like the zorder shift renderer."""
    cases = [
        f"(CASE WHEN {starts_with}({path_expr}, '{p}') THEN {len(p)}"
        " ELSE -1 END)"
        for t, p in ROBOTS_RULES
        if t == kind
    ]
    return "greatest(" + ", ".join(cases) + ")"


def robots_filter(df: DataFrame, url_col: str = "url") -> DataFrame:
    """robots.txt rule evaluation (the Google REP spec, RFC 9309
    longest-match semantics): for each URL, find the longest matching
    Allow and Disallow path prefixes from the (literal) parsed ruleset;
    the more specific rule wins, and a tie goes to Allow — the crawl-
    politeness / source-filtering primitive every web corpus applies
    before fetch or ingest.

    Scale shape: the ruleset is a bounded literal unrolled into
    greatest()-of-CASE JVM expressions — per-row whole-stage codegen,
    ZERO exchanges, no rule-table join anywhere."""
    path = (
        "coalesce(nullif(regexp_extract({u}, 'https?://[^/]+(/[^#]*)?', 1),"
        " ''), '/')".format(u=url_col)
    )
    a_len = _robots_len_sql("__path", "allow")
    d_len = _robots_len_sql("__path", "disallow")
    return (
        df.select("doc_id", F.col(url_col), F.expr(path).alias("__path"))
        .select(
            "doc_id",
            url_col,
            F.col("__path").alias("path"),
            F.expr(a_len).cast("int").alias("allow_len"),
            F.expr(d_len).cast("int").alias("disallow_len"),
        )
        .select(
            "doc_id",
            url_col,
            "path",
            "allow_len",
            "disallow_len",
            (F.col("allow_len") >= F.col("disallow_len")).alias("crawlable"),
        )
    )


#: template_detect: a skeleton shared by at least this many documents
#: marks a template. Fixed — operator contract.
TEMPLATE_MIN_COPIES = 3

#: Skeleton normalization regexes — RE2-compatible AND Java-compatible
#: (explicit classes, no \s shorthand: Java's \s includes \x0B, RE2's
#: does not).
_SKEL_DIGITS = "[0-9]+"
_SKEL_WS = "[ \t\n\r]+"


def _skeleton_sql(col: str, g: str = "") -> str:
    """Skeleton expression rendered for BOTH engines: lowercase, digit
    runs collapsed to a single ``0``, whitespace runs to one space, ends
    trimmed. ``g`` is the replace-all dialect suffix — ``""`` for Spark
    (implicit global), ``", 'g'"`` for DuckDB."""
    return (
        "trim(regexp_replace(regexp_replace(lower({c}), '{d}', '0'{g}),"
        " '{w}', ' '{g}))".format(c=col, d=_SKEL_DIGITS, w=_SKEL_WS, g=g)
    )


def template_detect(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_copies: int = TEMPLATE_MIN_COPIES,
) -> DataFrame:
    """Template / boilerplate-page detection: normalize each document to
    its structural skeleton (case-folded, digit runs → ``0``, whitespace
    collapsed), count identical skeletons corpus-wide, and flag
    template families — the machine-generated page filter (order
    confirmations, error pages, directory listings) that exact dedup
    misses because serial numbers and timestamps differ per copy.
    ``is_canonical`` keeps the lowest-id member per family so a
    downstream filter retains one exemplar instead of dropping all.

    Scale shape: skeletons travel as md5 — the count exchange carries
    (16-byte hash, partial count, partial min-id) and the join back
    carries (id, hash); document text never crosses an exchange. Same
    family as line_dedup/dup_span_detect.
    """
    skel = df.select(
        F.col(id_col),
        F.md5(F.expr(_skeleton_sql(col))).alias("sh"),
    )
    fam = skel.groupBy("sh").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min(id_col).alias("__min_id"),
    )
    return skel.join(fam, "sh").select(
        F.col(id_col),
        "n_copies",
        (F.col("n_copies") >= F.lit(int(min_copies))).alias("is_template"),
        (F.col(id_col) == F.col("__min_id")).alias("is_canonical"),
    )


#: Mojibake repair table: UTF-8 byte pairs/triples mis-decoded through
#: Latin-1/cp1252 and re-saved — the ftfy fix-encoding core cases. All
#: corrupted forms are printable, quote-free, and prefix-unambiguous
#: (no entry is a prefix of another), so one replace chain in table
#: order is exhaustive and order-independent. Fixed — operator contract.
MOJIBAKE_MAP: tuple[tuple[str, str], ...] = (
    ("Ã©", "é"),          # Ã©  -> é
    ("Ã¨", "è"),          # Ã¨  -> è
    ("Ã¤", "ä"),          # Ã¤  -> ä
    ("Ã¶", "ö"),          # Ã¶  -> ö
    ("Ã¼", "ü"),          # Ã¼  -> ü
    ("Ã±", "ñ"),          # Ã±  -> ñ
    ("Ã§", "ç"),          # Ã§  -> ç
    ("â€™", "’"),    # â€™ -> ’
    ("â€œ", "“"),    # â€œ -> “
    ("â€”", "—"),    # â€” -> —
)

for _bad, _good in MOJIBAKE_MAP:
    assert "'" not in _bad + _good and "\\" not in _bad + _good
    for _other, _ in MOJIBAKE_MAP:
        assert _other == _bad or not _other.startswith(_bad)
del _bad, _good, _other


def mojibake_repair_sql(col: str) -> str:
    """The repair replace-chain rendered once for BOTH engines (Spark
    ``replace`` ≡ DuckDB ``replace``: all non-overlapping occurrences,
    left to right)."""
    expr = col
    for bad, good in MOJIBAKE_MAP:
        expr = "replace({e}, '{b}', '{g}')".format(e=expr, b=bad, g=good)
    return expr


def mojibake_count_sql(col: str, idiv: str = "DIV") -> str:
    """Total corrupted-sequence occurrences: per pattern,
    (len − len(after removal)) / pattern_len — exact integer division
    because the difference is a multiple of the pattern length. ``idiv``
    is the integer-division token (Spark ``DIV``, DuckDB ``//``)."""
    terms = [
        "((length({c}) - length(replace({c}, '{b}', ''))) {q} {n})".format(
            c=col, b=bad, n=len(bad), q=idiv
        )
        for bad, _ in MOJIBAKE_MAP
    ]
    return "(" + " + ".join(terms) + ")"


def mojibake_detect(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Encoding-damage detection and repair (the ftfy fix-encoding
    core): count occurrences of the classic UTF-8-read-as-Latin-1/cp1252
    mojibake sequences and emit the repaired text — a standard web-crawl
    hygiene pass (crawled pages routinely declare one charset and serve
    another).

    Scale shape: a literal replace chain + length arithmetic, all
    whole-stage-codegen JVM expressions — ZERO exchanges; the DuckDB
    oracle replays the identical chain via the shared SQL generators.
    """
    n = F.expr(mojibake_count_sql(col)).cast("long")
    return df.select(
        F.col(id_col),
        n.alias("n_mojibake"),
        (n > 0).alias("is_damaged"),
        F.expr(mojibake_repair_sql(col)).alias("repaired"),
    )


#: anchor-extraction regex — RE2- and Java-compatible (no backrefs, no
#: lookaround). Group 1 = href, group 2 = anchor text.
ANCHOR_RE = '<a href="([^"]+)">([^<]*)</a>'

#: href → registrable host. Same engines-shared dialect as url_extract.
ANCHOR_DOMAIN_RE = "https?://([^/]+)"


def anchor_text(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """Anchor-text aggregation over the crawl's link graph — the classic
    web-corpus signal (anchor text describes the TARGET page better than
    the page itself; search engines and title-generation pipelines
    aggregate it per destination): harvest ``<a href>`` pairs, group by
    target domain, and report link volume, anchor diversity, and the
    dominant anchor per domain.

    The per-domain argmax is the string-encoded max
    ``lpad(count,12)||':'||anchor`` (ties break to the lexicographically
    greatest anchor) — plain ``max`` on both engines, no struct-ordering
    semantics.

    Scale shape: the regex harvest is per-row JVM (RE2-compatible
    pattern, so the oracle replays byte-for-byte); exchange 1 carries
    (domain, anchor, partial count) — anchors are short display strings,
    never the document —; exchange 2 carries one row per domain.
    """
    pat = ANCHOR_RE.replace("'", "''")
    hs = F.expr(f"regexp_extract_all({html_col}, '{pat}', 1)")
    ts = F.expr(f"regexp_extract_all({html_col}, '{pat}', 2)")
    links = (
        df.select(F.col(id_col), ts.alias("__ts"), hs.alias("__hs"))
        .select(
            F.col(id_col),
            F.col("__ts"),
            F.posexplode("__hs").alias("__i", "href"),
        )
        .select(
            F.col(id_col),
            F.regexp_extract(F.col("href"), ANCHOR_DOMAIN_RE, 1).alias(
                "domain"
            ),
            F.trim(F.lower(F.expr("element_at(__ts, __i + 1)"))).alias(
                "anchor"
            ),
        )
    )
    pairs = links.groupBy("domain", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    key = F.concat(
        F.lpad(F.col("cnt").cast("string"), 12, "0"),
        F.lit(":"),
        F.col("anchor"),
    )
    return pairs.groupBy("domain").agg(
        F.sum("cnt").cast("long").alias("n_links"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_anchors"),
        F.max(key).alias("__top"),
    ).select(
        "domain",
        "n_links",
        "n_distinct_anchors",
        F.expr("substring(__top, 14)").alias("top_anchor"),
        F.expr("CAST(substring(__top, 1, 12) AS BIGINT)").alias("top_count"),
    )


#: pmi_collocations contract constants. Fixed — operator contract.
PMI_MIN_COUNT = 3
PMI_TOPK = 20


def pmi_collocations(
    df: DataFrame,
    col: str = "text",
    k: int = PMI_TOPK,
    min_count: int = PMI_MIN_COUNT,
    prune_shards: int = 64,
) -> DataFrame:
    """Corpus-level collocation mining: the top-k adjacent-word bigrams
    by pointwise mutual information — the phrase-vocabulary /
    tokenizer-seeding pass (word2phrase, Mikolov et al.
    arXiv:1310.4546 §4 use exactly this count-ratio score).

    Cross-engine determinism: PMI's log is monotone, so ranking uses the
    RAW probability ratio in exact integer micro-units —
    ``c12·N·1e6 div (c1·c2)`` in decimal(38,0) ≡ HUGEINT ``//`` (the
    bm25_topk arithmetic class, overflow-free at any corpus size); total
    order (score desc, bigram asc).

    Scale shape: bigram and unigram counts partial-aggregate map-side
    (short token strings cross those exchanges, the vocab_oov
    precedent); N is one bounded single-row aggregate; the two unigram
    joins are hash joins on token; top-k is TWO-phase — per-shard
    row_number prune to k, then a final rank over ≤ shards·k survivors.
    Shard assignment only needs determinism within the run (any shard's
    top-k superset argument), so a plain hash bucket is fine.
    """
    from pyspark.sql import Window

    toks = df.select(_tokens(col).alias("w")).filter(F.size("w") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("bigram")
    )
    c12 = (
        pairs.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .filter(F.col("c12") >= int(min_count))
    )
    uni = (
        df.select(F.explode(_tokens(col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    total = int(
        df.agg(F.sum(F.size(_tokens(col)))).collect()[0][0]
    )  # one bounded single-row aggregate (the bm25/tfidf precedent)
    j = (
        c12.withColumn("w1", F.expr("split(bigram, ' ')[0]"))
        .withColumn("w2", F.expr("split(bigram, ' ')[1]"))
        .join(uni.withColumnRenamed("tok", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(uni.withColumnRenamed("tok", "w2").withColumnRenamed("c", "c2"), "w2")
    )
    score = F.expr(
        f"CAST((CAST(c12 AS DECIMAL(38,0)) * {total} * 1000000) DIV "
        "(CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)"
    )
    scored = j.select(
        "bigram", "c12", "c1", "c2", score.alias("score_micro")
    )
    w1 = Window.partitionBy("__shard").orderBy(
        F.desc("score_micro"), F.asc("bigram")
    )
    pruned = (
        scored.withColumn(
            "__shard", F.pmod(F.hash("bigram"), F.lit(int(prune_shards)))
        )
        .withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= k)
        .drop("__shard", "__r")
    )
    w2 = Window.orderBy(F.desc("score_micro"), F.asc("bigram"))
    return (
        pruned.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("rank", "bigram", "c12", "c1", "c2", "score_micro")
    )


def html_meta(df: DataFrame, html_col: str = "html", id_col: str = "doc_id") -> DataFrame:
    """Page-metadata extraction — the head-section fields every crawl
    pipeline keeps next to the main text (<title>, meta description,
    canonical link, heading count). Missing fields extract as '' (the
    regexp_extract no-match convention on both engines).

    Scale shape: four per-row JVM regexes (RE2/Java-shared patterns,
    anchored literal heads — no backtracking blowup), ZERO exchanges.
    """
    title = "regexp_extract({c}, '<title>([^<]*)</title>', 1)"
    desc = (
        "regexp_extract({c},"
        " '<meta name=\"description\" content=\"([^\"]*)\"', 1)"
    )
    canon = (
        "regexp_extract({c},"
        " '<link rel=\"canonical\" href=\"([^\"]*)\"', 1)"
    )
    h1s = "size(regexp_extract_all({c}, '<h1>', 0))"
    return df.select(
        F.col(id_col),
        F.expr(title.format(c=html_col)).alias("title"),
        F.expr(desc.format(c=html_col)).alias("meta_description"),
        F.expr(canon.format(c=html_col)).alias("canonical_url"),
        F.expr(h1s.format(c=html_col)).cast("long").alias("n_h1"),
    )


#: char_diversity flag threshold, in 1e-6 units. Fixed — contract.
CHAR_DIVERSITY_MIN_MICRO = 200_000


def char_diversity(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-trigram diversity — the cheap garbled/degenerate-text
    signal (a keyboard-mash or single-phrase-looped document has few
    distinct character trigrams relative to its length; natural prose
    sits far above the threshold): distinct trigrams / total trigrams in
    exact integer micro-units. Documents shorter than one trigram score
    0 with 0 windows.

    Scale shape: per-row JVM lambda over an in-row trigram array — ZERO
    exchanges, whole-stage codegen.
    """
    tri = (
        "transform(sequence(1, length({c}) - 2),"
        " i -> substring({c}, i, 3))".format(c=col)
    )
    n_tri = F.when(
        F.length(F.col(col)) >= 3, F.length(F.col(col)) - 2
    ).otherwise(F.lit(0)).cast("long")
    n_dist = F.when(
        F.length(F.col(col)) >= 3,
        F.expr(f"size(array_distinct({tri}))"),
    ).otherwise(F.lit(0)).cast("long")
    div = F.when(
        F.col("n_trigrams") > 0,
        F.expr("n_distinct_trigrams * 1000000 DIV n_trigrams"),
    ).otherwise(F.lit(0)).cast("long")
    return df.select(
        F.col(id_col),
        n_tri.alias("n_trigrams"),
        n_dist.alias("n_distinct_trigrams"),
    ).select(
        id_col,
        "n_trigrams",
        "n_distinct_trigrams",
        div.alias("diversity_micro"),
    ).select(
        "*",
        (
            (F.col("n_trigrams") > 0)
            & (F.col("diversity_micro") < CHAR_DIVERSITY_MIN_MICRO)
        ).alias("is_degenerate"),
    )


#: Homoglyph injection sample shared by the contract query and oracle:
#: Latin words with Cyrillic а (U+0430) / е (U+0435) substituted — the
#: classic spoofing shape. Quote- and backslash-free so it can embed in
#: a SQL literal verbatim.
HOMOGLYPH_SAMPLE = "pаypаl sеcure bаnk login"


def homoglyph_detect(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mixed-script homoglyph detection — the spoofing/spam screen
    (phishing corpora substitute Cyrillic а/е/о/с into Latin words to
    dodge keyword filters; a legitimate document is either-script per
    word): count words containing BOTH a Latin letter and a Cyrillic
    letter. Explicit codepoint ranges, not \\p{} classes — Java regex
    and RE2 script tables differ (the script_detect precedent).

    Scale shape: one per-row JVM lambda over the hoisted token array —
    ZERO exchanges."""
    mixed = (
        "size(filter(split({c}, ' '),"
        " t -> t rlike '[a-z]' AND t rlike '[а-яё]'))"
    ).format(c=col)
    n = F.expr(mixed).cast("long")
    return df.select(
        F.col(id_col),
        F.size(_tokens(col)).cast("long").alias("n_words"),
        n.alias("n_mixed_words"),
        (n > 0).alias("is_spoofed"),
    )


#: vocab_drift: compare token frequencies over the top-k combined
#: vocabulary. Fixed — operator contract.
VOCAB_DRIFT_TOPK = 64


def vocab_drift(
    df: DataFrame,
    prior: DataFrame,
    col: str = "text",
    k: int = VOCAB_DRIFT_TOPK,
) -> DataFrame:
    """Release-over-release vocabulary drift — the data-drift monitor a
    recurring crawl pipeline runs before training (a scraper change or
    spam wave shows up as frequency shifts long before model metrics
    move): for the top-``k`` tokens of the COMBINED corpus (count desc,
    token asc — a total order, so the cut is reproducible), report each
    token's per-mille^2 frequency in both releases and the absolute
    drift, all in exact integer micro-units (count·1e6 div N).

    Scale shape: two token-count aggregates (map-side combine, (token,
    count) exchanges), a full-outer join of count tables, a distributed
    TakeOrdered for the cut, and two bounded single-row aggregates for
    the corpus totals. Document text never crosses an exchange.
    """
    def counts(d: DataFrame, alias: str) -> DataFrame:
        return (
            d.select(F.explode(_tokens(col)).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias(alias))
        )

    cur = counts(df, "c_cur")
    prev = counts(prior, "c_prev")
    n_cur = int(df.agg(F.sum(F.size(_tokens(col)))).collect()[0][0] or 0)
    n_prev = int(
        prior.agg(F.sum(F.size(_tokens(col)))).collect()[0][0] or 0
    )
    j = (
        cur.join(prev, "token", "full_outer")
        .select(
            "token",
            F.coalesce("c_cur", F.lit(0)).cast("long").alias("c_cur"),
            F.coalesce("c_prev", F.lit(0)).cast("long").alias("c_prev"),
        )
        .orderBy(
            (F.col("c_cur") + F.col("c_prev")).desc(), F.col("token").asc()
        )
        .limit(int(k))
    )
    f_cur = F.expr(f"c_cur * 1000000 DIV {max(n_cur, 1)}").cast("long")
    f_prev = F.expr(f"c_prev * 1000000 DIV {max(n_prev, 1)}").cast("long")
    return j.select(
        "token", "c_cur", "c_prev",
        f_cur.alias("f_cur_micro"),
        f_prev.alias("f_prev_micro"),
    ).select(
        "*",
        F.abs(F.col("f_cur_micro") - F.col("f_prev_micro"))
        .cast("long")
        .alias("drift_micro"),
    )


#: Hard-wrap injection sample shared by the dehyphenate contract query
#: and oracle: a PDF-renderer-style wrapped passage with mid-word
#: hyphen breaks. Quote- and backslash-free; the embedded newlines are
#: escaped into the SQL literal by the oracle builder.
DEHYPHEN_SAMPLE = (
    "the extrac-\ntion pipe-\nline reassembles hy-\nphenated words\n"
    "across wrapped lines"
)


def dehyphenate(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Hard-wrap repair — the first cleanup every PDF/column-layout
    extraction needs (the reference's vision model reads logical words
    straight off the page, `/root/reference/scripts/ExtractX_OCR.py:322-346`;
    a geometric extractor instead sees renderer line breaks that split
    words as ``extrac-\\ntion``): join letter-hyphen-newline-letter
    breaks back into whole words, then flatten the remaining newlines
    to spaces. Explicit ``[a-z0-9]`` classes, not ``\\w`` — Java regex
    and RE2 word-class tables differ (the script_detect precedent).
    Both engines scan non-overlapping left-to-right, so consecutive
    breaks resolve identically.

    Scale shape: two per-row JVM regexp_replace passes — ZERO
    exchanges, whole-stage codegen applies."""
    join_pat = "([a-z0-9])-\n([a-z0-9])"
    n_lines = F.size(F.split(F.col(col), "\n")) - 1
    n_joins = (
        F.size(F.expr(f"regexp_extract_all({col}, '[a-z0-9]-\\n[a-z0-9]', 0)"))
        .cast("long")
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col(col), join_pat, "$1$2"), "\n", " "
    )
    return df.select(
        F.col(id_col),
        n_joins.alias("n_hyphen_joins"),
        (n_lines.cast("long") - n_joins).alias("n_line_wraps"),
        clean.alias("clean_text"),
    )


def readability_score(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease in exact integer micro-units — the
    readability axis of corpus quality scoring (alongside gopher_rules
    and classifier_score): words are whitespace tokens, sentences are
    runs of ``[.!?]`` (min 1), syllables per word are vowel-group runs
    ``[aeiouy]+`` (min 1 — the standard heuristic). Score =
    206.835 − 1.015·(W/S) − 84.6·(Y/W), computed as
    ``206835000 − 1015000·W DIV S − 84600000·Y DIV W`` so both engines
    floor identically (BIGINT DIV ≡ //); bands at 60/30 give the
    easy / standard / difficult tags.

    Scale shape: per-row lambda over the hoisted token array — ZERO
    exchanges."""
    w = F.size(_tokens(col)).cast("long")
    s = F.greatest(
        F.size(F.expr(f"regexp_extract_all({col}, '[.!?]+', 0)")).cast("long"),
        F.lit(1).cast("long"),
    )
    y = F.expr(
        f"aggregate(split({col}, ' '), 0L, (a, t) -> a +"
        " greatest(1L, CAST(size(regexp_extract_all(t, '[aeiouy]+', 0))"
        " AS BIGINT)))"
    )
    base = df.select(
        F.col(id_col),
        w.alias("n_words"),
        s.alias("n_sentences"),
        y.alias("n_syllables"),
    )
    flesch = F.expr(
        "206835000 - (1015000 * n_words) DIV n_sentences"
        " - (84600000 * n_syllables) DIV greatest(n_words, 1)"
    ).cast("long")
    return base.select(
        "*",
        flesch.alias("flesch_micro"),
    ).select(
        "*",
        F.when(F.col("flesch_micro") >= 60_000_000, F.lit("easy"))
        .when(F.col("flesch_micro") >= 30_000_000, F.lit("standard"))
        .otherwise(F.lit("difficult"))
        .alias("band"),
    )


#: strip_page_furniture: a line (digits masked to #) is furniture when
#: it appears on >=2 pages of the document AND on >=80% of its pages.
FURNITURE_MIN_PAGES = 2
FURNITURE_MIN_RATIO_PCT = 80


def strip_page_furniture(
    df: DataFrame,
    page_col: str = "page_text",
    id_col: str = "doc_id",
    page_idx_col: str = "page_idx",
) -> DataFrame:
    """Running header/footer removal — the page-furniture strip between
    page-level extraction and document assembly (the reference's vision
    model skips furniture implicitly; a geometric pipeline must detect
    it): a line whose digit-masked form (``[0-9]+`` → ``#``, so
    ``Page 1 of 9`` ≡ ``Page 2 of 9``) appears on ≥80% of a document's
    pages AND on ≥2 pages is furniture; each page is reassembled from
    its surviving lines in order. Single-page documents are never
    stripped (the ≥2-page floor).

    Scale shape: lines explode per page, ONE (doc, masked-line)
    count-distinct aggregate, one doc-level page count, joins keyed on
    (doc, mask) / doc, and a per-page ordered reassembly — page text
    crosses exchanges only as individual lines, and the furniture
    table is tiny (distinct masked lines with multi-page support)."""
    lines = df.select(
        F.col(id_col),
        F.col(page_idx_col),
        F.posexplode(F.split(F.col(page_col), "\n")).alias(
            "line_idx", "line"
        ),
    ).withColumn("mask", F.regexp_replace(F.col("line"), "[0-9]+", "#"))
    n_pages = df.groupBy(id_col).agg(
        F.countDistinct(page_idx_col).cast("long").alias("__np")
    )
    support = lines.groupBy(id_col, "mask").agg(
        F.countDistinct(page_idx_col).cast("long").alias("__sup")
    )
    flagged = (
        lines.join(support, [id_col, "mask"])
        .join(n_pages, id_col)
        .withColumn(
            "__furn",
            (F.col("__sup") >= FURNITURE_MIN_PAGES)
            & (F.col("__sup") * 100 >= F.col("__np") * FURNITURE_MIN_RATIO_PCT),
        )
    )
    return flagged.groupBy(id_col, page_idx_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("__furn").cast("long")).cast("long").alias(
            "n_furniture_lines"
        ),
        F.array_join(
            ordered_list("line_idx", F.when(~F.col("__furn"), F.col("line"))),
            "\n",
        ).alias("body_text"),
    )


#: Training-sentinel strings scrubbed by special_token_scrub. Fixed,
#: quote- and backslash-free — each embeds in the oracle literal
#: verbatim (regex metachars are escaped on both engines by the
#: operator/oracle builders).
SPECIAL_TOKENS = (
    "<|endoftext|>",
    "<|im_start|>",
    "<|im_end|>",
    "<s>",
    "</s>",
    "[INST]",
    "[/INST]",
)


def special_token_scrub(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Tokenizer-sentinel scrub — the guard between scraped text and
    the trainer (scraped model-chat dumps leak ``<|endoftext|>`` /
    ``[INST]`` markers; left in, they teach the model to emit its own
    control tokens): count and strip every SPECIAL_TOKENS occurrence
    via plain substring replace — counts are pure length arithmetic
    ((len − len(replaced)) / len(tok), no regex, so cross-engine parity
    is structural) — then collapse the double spaces the strip leaves.

    Scale shape: a chain of per-row JVM replaces — ZERO exchanges."""
    total = F.lit(0).cast("long")
    clean = F.col(col)
    for tok in SPECIAL_TOKENS:
        stripped = F.replace(F.col(col), F.lit(tok), F.lit(""))
        total = total + (
            (F.length(F.col(col)) - F.length(stripped)) / F.lit(len(tok))
        ).cast("long")
        clean = F.replace(clean, F.lit(tok), F.lit(""))
    clean = F.regexp_replace(F.trim(clean), " +", " ")
    return df.select(
        F.col(id_col),
        total.cast("long").alias("n_sentinels"),
        clean.alias("clean_text"),
    )


def fuzzy_title_pairs(
    df: DataFrame,
    title_col: str = "title",
    id_col: str = "title_id",
    max_dist: int = 3,
    prefix_len: int = 8,
) -> DataFrame:
    """Blocked edit-distance near-duplicate pairs — the fuzzy-match
    step entity-resolution and title-dedup pipelines run where MinHash
    is too coarse (one-word titles, product names): titles sharing an
    8-char prefix block are compared, a cheap length filter
    (|len(a)−len(b)| ≤ max_dist — a true lower bound on edit distance)
    prunes before the quadratic kernel, and survivors with
    ``levenshtein ≤ max_dist`` are emitted as (id_a < id_b) pairs.

    Scale shape: ONE equi-join exchange keyed on the prefix block —
    quadratic only within a block (the standard blocking trade-off;
    lengthen ``prefix_len`` or add a length-bucket to the key if a
    corpus skews onto few prefixes), length filter ahead of
    levenshtein, titles cross the exchange once."""
    t = df.select(
        F.col(id_col).cast("long").alias("tid"),
        F.col(title_col).alias("t"),
        F.substring(F.col(title_col), 1, prefix_len).alias("blk"),
        F.length(F.col(title_col)).alias("ln"),
    )
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(b, F.col("a.blk") == F.col("b.blk"))
        .where(
            (F.col("a.tid") < F.col("b.tid"))
            & (F.abs(F.col("a.ln") - F.col("b.ln")) <= max_dist)
            & (F.levenshtein(F.col("a.t"), F.col("b.t")) <= max_dist)
        )
        .select(
            F.col("a.tid").alias("id_a"),
            F.col("b.tid").alias("id_b"),
            F.levenshtein(F.col("a.t"), F.col("b.t"))
            .cast("long")
            .alias("dist"),
        )
    )


#: sentence_chunk target size in tokens. Fixed — operator contract.
SENT_CHUNK_TOKENS = 48

#: runaway-sentence guard: a boundary is forced every MAX_SENT tokens
#: even without punctuation (unpunctuated logs/code would otherwise
#: collapse into one giant sentence that can never be chunked).
SENT_CHUNK_MAX_SENT = 12


def sentence_chunk(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    n: int = SENT_CHUNK_TOKENS,
    max_sent: int = SENT_CHUNK_MAX_SENT,
) -> DataFrame:
    """Sentence-aligned chunking — the retrieval-side sibling of
    chunk_overlap (a RAG passage must not cut mid-sentence): a token
    ends a sentence when it ends with ``[.!?]`` OR sits at a
    ``max_sent``-token grid position (the runaway guard for
    unpunctuated text); each sentence is assigned to the chunk
    ``floor(sent_start_token / n)`` of its FIRST token, so chunk
    boundaries land only between sentences and a long sentence
    overflows its chunk rather than splitting.

    Scale shape: ONE hash exchange on the document id and ONE sort:
    the sentence id (a running count of sentence starts) and its first
    token (a running max of their positions) share the (id ORDER BY
    idx) window, and the final (id, chunk) group-by is a subset-key
    clustering the (id) partitioning already satisfies."""
    from pyspark.sql.window import Window

    tok = df.select(
        F.col(id_col),
        F.posexplode(_tokens(col)).alias("idx", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("idx")
    is_end = F.col("tok").rlike("[.!?]$") | (
        (F.col("idx") + 1) % int(max_sent) == 0
    )
    # a token opens a sentence when the one before it ends one; the
    # sentence's start is the last opening idx so far, a running max
    opens = F.lag(is_end, 1, True).over(w)
    upto = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    st = tok.select(
        "*",
        run_ids(w, opens).alias("sent_id"),
        F.max(F.when(opens, F.col("idx"))).over(upto).alias("sent_start"),
    ).withColumn("chunk_id", F.expr(f"sent_start DIV {int(n)}").cast("int"))
    return st.groupBy(id_col, "chunk_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("sent_id").cast("long").alias("n_sentences"),
        F.array_join(ordered_list("idx", "tok"), " ").alias("chunk_text"),
    )


#: Markdown decoration sample shared by the markdown_strip contract
#: query and oracle — exercises headings, bold, emphasis, links,
#: inline code, and bullets. Quote- and backslash-free; newlines are
#: escaped into the oracle's E'' literal by the builder.
MD_SAMPLE = (
    "# release notes\n**bold** and *em* see [the docs](http://docs) now\n"
    "- item one\n- item two"
)


def markdown_strip(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Markdown boilerplate strip — the cleanup for markdown-formatted
    corpora (READMEs, wiki dumps, chat exports) before training: links
    keep their anchor text and drop the URL, bold/emphasis/inline-code
    markers unwrap, heading markers and list bullets at line starts
    vanish. One fixed regex chain (links → bold → emphasis → code →
    headings → bullets — order matters and is replayed verbatim);
    ``(^|\\n)`` anchors instead of MULTILINE flags, which Java and RE2
    treat differently.

    Scale shape: a chain of per-row JVM regexp_replace — ZERO
    exchanges."""
    t = F.col(col)
    n_links = (
        F.size(
            F.expr(
                f"regexp_extract_all({col},"
                " '\\\\[[^\\\\]]*\\\\]\\\\([^)]*\\\\)', 0)"
            )
        ).cast("long")
    )
    n_headings = (
        F.size(F.expr(f"regexp_extract_all({col}, '(^|\\n)#+ +', 0)"))
        .cast("long")
    )
    plain = F.regexp_replace(t, r"\[([^\]]*)\]\(([^)]*)\)", "$1")
    plain = F.regexp_replace(plain, r"\*\*([^*]*)\*\*", "$1")
    plain = F.regexp_replace(plain, r"\*([^*]*)\*", "$1")
    plain = F.regexp_replace(plain, "`([^`]*)`", "$1")
    plain = F.regexp_replace(plain, "(^|\n)#+ +", "$1")
    plain = F.regexp_replace(plain, "(^|\n)[-*] +", "$1")
    return df.select(
        F.col(id_col),
        n_links.alias("n_links"),
        n_headings.alias("n_headings"),
        plain.alias("plain_text"),
    )


def date_harvest(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """ISO-date harvest — the temporal-metadata pass a crawl pipeline
    runs to window training data by time (dedup priority, freshness
    filtering, leakage cuts before a benchmark's release date): extract
    every ``YYYY-MM-DD`` occurrence; first/last are plain string
    min/max (ISO dates sort lexicographically, so no date parsing — and
    no engine-specific calendar semantics — is involved).

    Scale shape: one per-row regex harvest over a hoisted array — ZERO
    exchanges."""
    dates = F.expr(
        f"regexp_extract_all({col}, '[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}', 0)"
    )
    return df.select(
        F.col(id_col),
        F.size(dates).cast("long").alias("n_dates"),
        F.array_min(dates).alias("first_date"),
        F.array_max(dates).alias("last_date"),
    )


#: Stopword list for the jusText-style boilerplate classifier — fixed
#: literals (quote-free, embed verbatim in the oracle SQL). Chosen to
#: overlap the synthetic corpus vocabulary so both classes occur.
JUSTEXT_STOPWORDS = ("the", "a", "of", "and", "to", "in")
#: Context-free class thresholds (integer arithmetic only): a
#: paragraph is link-noise when link_words * 5 > n_words (>20% link
#: density), short under 8 words, good when stopword density >= 10%.
JUSTEXT_SHORT_WORDS = 8
JUSTEXT_STOP_PCT = 10


def boilerplate_classify(
    df: DataFrame,
    para_col: str = "para_text",
    id_col: str = "doc_id",
    idx_col: str = "para_idx",
    keep_text: bool = False,
) -> DataFrame:
    """jusText-style boilerplate classification (Pomikalek 2011,
    simplified to exact integer rules — the reference's vision model
    never sees boilerplate because a human cropped the scan; a crawl
    pipeline must classify it out): per paragraph compute word count,
    stopword count (JUSTEXT_STOPWORDS) and link-token count
    (``http``-prefixed words), assign the context-free class —
    ``bad`` on link density > 20%, ``short`` under
    JUSTEXT_SHORT_WORDS words, ``good`` at stopword density >=
    JUSTEXT_STOP_PCT%, else ``near`` — then propagate context one
    step: a ``short``/``near`` paragraph becomes ``good`` iff a
    neighbouring paragraph (prev/next in document order) is
    context-free ``good``, else ``bad``.

    Scale shape: per-row JVM expressions over a hoisted token array +
    ONE lag/lead window partitioned by document — a single exchange on
    the document id; paragraph text never rides a shuffle after the
    feature projection."""
    from pyspark.sql.window import Window

    toks = F.split(F.col(para_col), " ")
    stop_arr = F.array(*[F.lit(s) for s in JUSTEXT_STOPWORDS])
    feat_cols = [
        F.col(id_col),
        F.col(idx_col).cast("int").alias(idx_col),
        F.size(toks).cast("long").alias("n_words"),
        F.size(
            F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t)))
        )
        .cast("long")
        .alias("stop_words"),
        F.size(F.filter(toks, lambda t: F.lower(t).startswith("http")))
        .cast("long")
        .alias("link_words"),
    ]
    if keep_text:
        feat_cols.append(F.col(para_col))
    feat = df.select(*feat_cols)
    cf = (
        F.when(F.col("link_words") * 5 > F.col("n_words"), F.lit("bad"))
        .when(F.col("n_words") < JUSTEXT_SHORT_WORDS, F.lit("short"))
        .when(
            F.col("stop_words") * 100 >= F.col("n_words") * JUSTEXT_STOP_PCT,
            F.lit("good"),
        )
        .otherwise(F.lit("near"))
    )
    w = Window.partitionBy(id_col).orderBy(idx_col)
    feat = feat.withColumn("cf_class", cf)
    neighbour_good = (F.lag("cf_class").over(w) == "good") | (
        F.lead("cf_class").over(w) == "good"
    )
    final = (
        F.when(F.col("cf_class").isin("good", "bad"), F.col("cf_class"))
        .when(F.coalesce(neighbour_good, F.lit(False)), F.lit("good"))
        .otherwise(F.lit("bad"))
    )
    out_cols = [
        id_col,
        idx_col,
        "n_words",
        "stop_words",
        "link_words",
        "cf_class",
        final.alias("final_class"),
        (final == "good").alias("kept"),
    ]
    if keep_text:
        out_cols.append(para_col)
    return feat.select(*out_cols)


def main_content(
    df: DataFrame,
    para_col: str = "para_text",
    id_col: str = "doc_id",
    idx_col: str = "para_idx",
) -> DataFrame:
    """Main-content extraction — the jusText classifier composed into
    the operator a crawl pipeline actually runs: per document, keep the
    ``good`` paragraphs and reassemble them IN ORDER into the extracted
    main text (boilerplate stripped), plus kept/total paragraph counts.
    Documents where nothing survives emit an empty string, not NULL.

    Scale shape: :func:`boilerplate_classify` costs one exchange on the
    document id (its neighbour window); this aggregation groups on the
    SAME key, so Catalyst reuses the partitioning — no second exchange.
    The ordered reassembly happens inside the aggregate
    (:func:`runs.ordered_list`), never via a global sort."""
    classed = boilerplate_classify(
        df, para_col, id_col, idx_col, keep_text=True
    )
    return classed.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.array_join(
            ordered_list(idx_col, F.when(F.col("kept"), F.col(para_col))),
            "\n\n",
        ).alias("main_text"),
    )


#: Inverted-index pruning bounds: drop hapax terms (df < 2) and
#: stop-terms appearing in more than half the corpus (df * 2 > n_docs).
INVINDEX_MIN_DF = 2
INVINDEX_POSTINGS_HEAD = 8


def inverted_index(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Sharded inverted-index build — the retrieval-side artifact a
    training pipeline emits next to the corpus (BM25 serving,
    decontamination probes, duplicate audits): per term its document
    frequency, total term frequency, and the head of the ascending
    posting list (first INVINDEX_POSTINGS_HEAD doc ids, ','-joined —
    the full list is the same aggregate unsliced). Hapax terms
    (df < INVINDEX_MIN_DF) and stop-terms (df in more than half the
    documents) are pruned.

    Scale shape: the explode carries (token, doc_id) with map-side
    partial aggregation into per-doc term frequencies; ONE exchange on
    token builds the postings; the corpus size joins in as a broadcast
    1-row aggregate. At 100 TB the posting list for a surviving term
    is bounded by the df cap; lists longer than a shard target would
    be range-sharded by (term, doc_id bucket) — the head-slice output
    keeps the contract result bounded at any scale."""
    tf = (
        df.select(
            F.col(id_col).alias("did"),
            F.explode(_tokens(col)).alias("token"),
        )
        .groupBy("token", "did")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    n_docs = df.select(
        F.count(F.lit(1)).cast("long").alias("__n_docs")
    )
    idx = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
        F.sum("tf").cast("long").alias("total_tf"),
        F.concat_ws(
            ",",
            F.transform(
                F.slice(
                    F.array_sort(F.collect_list("did")),
                    1,
                    INVINDEX_POSTINGS_HEAD,
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("postings_head"),
    )
    return idx.crossJoin(F.broadcast(n_docs)).filter(
        (F.col("doc_freq") >= INVINDEX_MIN_DF)
        & (F.col("doc_freq") * 2 <= F.col("__n_docs"))
    ).select("token", "doc_freq", "total_tf", "postings_head")


#: KWIC context width in tokens on each side of the hit.
KWIC_CTX = 5


def kwic_concordance(
    df: DataFrame,
    probe: str,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keyword-in-context concordance — the audit sampler run before a
    filter ships (inspect every hit of a probe term with its
    surrounding tokens; also the memorization-probe extraction shape):
    every case-insensitive whole-token occurrence of ``probe`` with up
    to KWIC_CTX tokens of left and right context, positions 0-based.

    Scale shape: per-row posexplode over a hoisted token array, slices
    against the same array — ZERO exchanges; only matching rows
    survive the filter, so context strings never amplify the scan."""
    base = df.filter(F.col(col).isNotNull()).select(
        F.col(id_col), F.split(F.col(col), " ").alias("__ts")
    )
    hits = base.select(
        id_col,
        "__ts",
        F.posexplode("__ts").alias("pos", "token"),
    ).filter(F.lower(F.col("token")) == probe.lower())
    start = F.greatest(F.col("pos") + 1 - KWIC_CTX, F.lit(1))
    left_len = (F.col("pos") + 1) - start
    return hits.select(
        id_col,
        F.col("pos").cast("long").alias("pos"),
        F.concat_ws(" ", F.slice(F.col("__ts"), start, left_len)).alias(
            "left_ctx"
        ),
        F.concat_ws(
            " ", F.slice(F.col("__ts"), F.col("pos") + 2, KWIC_CTX)
        ).alias("right_ctx"),
    )


def _md5_u32(h: Column, off: int = 0) -> Column:
    """Little-endian 4 bytes of an md5 hex column starting at byte
    ``off`` as a BIGINT in [0, 2^32) — with off=0 equal to DuckDB
    ``md5_number % 2^32`` (the mixture_sample / split_assign replay
    idiom); other offsets replay via explicit hex-digit extraction."""
    bs = [
        F.conv(F.substring(h, 2 * (off + i) + 1, 2), 16, 10).cast("bigint")
        for i in range(4)
    ]
    return bs[0] + bs[1] * 256 + bs[2] * 65536 + bs[3] * 16777216


def filter_ablation(df: DataFrame, col: str = "text") -> DataFrame:
    """Filter-ablation report — the table a pipeline owner reads before
    committing thresholds (how many documents and tokens does each
    combination of the model-based and rule-based filters keep, and do
    the filters agree?): document and token counts for every CUBE cell
    of (gopher_pass, is_fluent, clf_label); subtotal rows carry NULL in
    the rolled-up dimension and the grouping level disambiguates.

    Scale shape: composition of three already-scale-safe signals
    (per-row Gopher rules, the bigram-LM corpus join, zero-exchange
    classifier inference) joined on doc_id, then ONE hash aggregate
    with the Expand the CUBE plans — 8× row amplification on
    (bool,bool,bool,long) tuples only, never on text."""
    base = df.filter(F.col(col).isNotNull())
    g = gopher_rules(base, col).select("doc_id", "gopher_pass")
    m = ngram_lm_score(base, col).select("doc_id", "is_fluent")
    c = classifier_score(base, col).select(
        "doc_id", F.col("label").alias("clf_label"), "n_tokens"
    )
    j = g.join(m, "doc_id").join(c, "doc_id")
    lvl = (
        F.grouping("gopher_pass") * 4
        + F.grouping("is_fluent") * 2
        + F.grouping("clf_label")
    ).cast("long")
    return j.cube("gopher_pass", "is_fluent", "clf_label").agg(
        lvl.alias("lvl"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


def forget_delete(
    df: DataFrame,
    requests: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deletion-request propagation (right-to-be-forgotten): a request
    names document ids, but the obligation covers every copy of the
    content — so each requested id resolves to its content digest and
    ALL documents sharing that digest are flagged, including re-crawls
    under other ids. Emits per document the digest, the deletion flag,
    and whether it was named directly or caught via content identity.

    Scale shape: the request list is tiny by nature — both the
    id-resolution join and the digest-propagation join broadcast it;
    the corpus is touched in one pass and only (id, digest) pairs ride
    the broadcast probes. Zero exchanges over the corpus."""
    dg = df.select(F.col(id_col), F.md5(F.col(col)).alias("digest"))
    req_ids = requests.select(F.col(id_col).alias("__rid")).distinct()
    req_dg = (
        dg.join(F.broadcast(req_ids), F.col(id_col) == F.col("__rid"))
        .select("digest")
        .distinct()
        .withColumn("__dhit", F.lit(True))
    )
    direct = req_ids.withColumn("__direct", F.lit(True))
    out = dg.join(F.broadcast(req_dg), "digest", "left").join(
        F.broadcast(direct), F.col(id_col) == F.col("__rid"), "left"
    )
    deleted = F.coalesce(F.col("__dhit"), F.lit(False))
    direct_f = F.coalesce(F.col("__direct"), F.lit(False))
    return out.select(
        id_col,
        "digest",
        deleted.alias("deleted"),
        direct_f.alias("direct"),
        (deleted & ~direct_f).alias("via_content"),
    )


#: cluster_safe_split salt — part of the operator contract.
CLSPLIT_SALT = "clsplit0"


def cluster_safe_split(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Leakage-safe train/val/test split: the draw keys on the CONTENT
    digest, not the document id, so every exact duplicate of a document
    lands in the same split — the C4/Pile lesson that id-keyed splits
    leak eval passages into train through re-crawled copies. Same
    md5-uniform and 98/1/1 thresholds as :func:`split_assign`; also
    emits the duplicate-cluster size.

    Scale shape: ONE exchange on digest for the cluster sizes, joined
    back on digest; the split itself is per-row JVM arithmetic over
    the digest string."""
    dg = df.select(F.col(id_col), F.md5(F.col(col)).alias("digest"))
    sizes = dg.groupBy("digest").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    u = _md5_u32(
        F.md5(F.concat(F.lit(CLSPLIT_SALT + ":"), F.col("digest")))
    ).cast("double") / F.lit(4294967296.0)
    t_train, t_val = SPLIT_FRACS[0], SPLIT_FRACS[0] + SPLIT_FRACS[1]
    split = (
        F.when(u < t_train, F.lit("train"))
        .when(u < t_val, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return dg.join(sizes, "digest").select(
        id_col, "digest", "cluster_size", split.alias("split")
    )


#: vocab_coverage mass thresholds (percent) — operator contract.
VOCAB_COVERAGE_PCTS = (90, 95, 99)


def vocab_coverage(df: DataFrame, col: str = "text") -> DataFrame:
    """Tokenizer vocabulary-coverage curve — the sizing study run
    before committing a vocab budget (how many types cover 90/95/99%
    of the corpus token mass?): rank terms by (tf desc, term asc) — a
    total order — take the running-mass prefix, and report for each
    threshold the minimal vocab size, the token mass it covers, and
    the corpus total.

    Scale shape: the global running sum is NEVER a single-partition
    window — the reshard_by_bytes two-phase prefix sum, with the
    bucket taken from the tf's binary magnitude (length(bin(tf)), an
    exact integer) so ascending bucket == descending tf band and ties
    stay inside one bucket; per-bucket offsets are a ≤64-row window
    broadcast back. The final report is one aggregate per threshold
    over (flag, cum) pairs."""
    from pyspark.sql.window import Window

    tf = (
        df.select(F.explode(_tokens(col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    bucket = (F.lit(64) - F.length(F.bin(F.col("tf")))).cast("int")
    banded = tf.select("token", "tf", bucket.alias("__b"))
    w_in = Window.partitionBy("__b").orderBy(
        F.col("tf").desc(), F.col("token").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        banded.groupBy("__b")
        .agg(F.sum("tf").alias("__bt"))
        .select(
            "__b",
            F.coalesce(F.sum("__bt").over(w_b), F.lit(0))
            .cast("long")
            .alias("__off"),
        )
    )
    cum = (
        banded.join(F.broadcast(offsets), "__b")
        .select(
            "token",
            "tf",
            (F.col("__off") + F.sum("tf").over(w_in)).cast("long").alias(
                "__cum"
            ),
        )
    )
    pcts = (
        tf.agg(F.sum("tf").cast("long").alias("__total"))
        .select(
            "__total",
            F.explode(
                F.array(*[F.lit(p) for p in VOCAB_COVERAGE_PCTS])
            ).alias("pct"),
        )
    )
    needed = (F.col("__cum") - F.col("tf")) * 100 < F.col(
        "__total"
    ) * F.col("pct")
    return (
        cum.crossJoin(F.broadcast(pcts))
        .groupBy(F.col("pct").cast("long").alias("pct"))
        .agg(
            F.sum(needed.cast("long")).cast("long").alias("vocab_size"),
            F.max(F.when(needed, F.col("__cum")).otherwise(0))
            .cast("long")
            .alias("covered_tokens"),
            F.max("__total").cast("long").alias("total_tokens"),
        )
    )


def ict_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    q_tokens: int = 5,
) -> DataFrame:
    """Inverse Cloze Task pair mining (Lee et al., arXiv:1906.00300) —
    the self-supervised (query, positive passage) pairs dense-retrieval
    pretraining starts from: the query is a span removed from the
    document (here its first ``q_tokens`` tokens) and the positive is
    the remainder. Completes the pair-mining triad: negative_sample
    supplies uniform negatives and hard_negatives the LSH-close ones.
    Documents with <= ``q_tokens`` tokens emit nothing (an empty
    passage would make the positive degenerate).

    Scale shape: one per-row JVM projection over a hoisted token
    array — zero exchanges, zero Python."""
    toks = df.select(id_col, F.split(F.col(col), " ").alias("__w"))
    return toks.filter(F.size("__w") > q_tokens).select(
        id_col,
        F.concat_ws(" ", F.slice("__w", 1, q_tokens)).alias("query"),
        F.concat_ws(
            " ",
            F.expr(
                f"slice(__w, {q_tokens + 1}, size(__w) - {q_tokens})"
            ),
        ).alias("passage"),
    )


#: negative_sample ring salt — operator contract.
NEG_SALT = "ns0"


def negative_sample(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic contrastive negative sampling — the pair-mining
    step of embedding/reranker training (each anchor needs k random
    negatives that are stable across reruns and engines, with no
    self-pairs and no all-pairs join): documents sit on a hash ring
    ordered by md5(NEG_SALT:id); an anchor's negatives are the next 2
    documents clockwise, wrapping at the end. Requires >= 3 documents.

    Scale shape: the ring is NEVER a global window — the md5-prefix
    bucket trick (reshard_by_bytes) gives within-bucket lead()s after
    ONE exchange on the 256-way bucket; the cross-boundary successors
    come from a constant-size heads frame (first 2 rows per bucket,
    <= 512 rows) whose windows and wraparound are all over that tiny
    frame, broadcast back onto the boundary rows."""
    from pyspark.sql.window import Window

    rk = F.md5(F.concat(F.lit(NEG_SALT + ":"), F.col(id_col).cast("string")))
    base = df.select(F.col(id_col), rk.alias("rk")).withColumn(
        "bucket", F.substring("rk", 1, 2)
    )
    w = Window.partitionBy("bucket").orderBy("rk", id_col)
    led = base.select(
        id_col,
        "rk",
        "bucket",
        F.lead(id_col, 1).over(w).alias("__l1"),
        F.lead(id_col, 2).over(w).alias("__l2"),
    )
    heads = (
        base.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 2)
        .select("bucket", "rk", F.col(id_col).alias("__hid"))
    )
    # successors after each bucket: the first 2 global ring rows past
    # the bucket's end all live in later buckets' heads (2 kept per
    # bucket); every window below runs over the <=512-row heads frame
    w_g = Window.orderBy("bucket", "rk")
    wrap2 = (
        heads.withColumn("__gn", F.row_number().over(w_g))
        .filter(F.col("__gn") <= 2)
        .groupBy()
        .agg(
            F.max(F.when(F.col("__gn") == 1, F.col("__hid"))).alias("__w1"),
            F.max(F.when(F.col("__gn") == 2, F.col("__hid"))).alias("__w2"),
        )
    )
    buckets = base.select("bucket").distinct()
    after = (
        buckets.alias("b")
        .join(
            heads.alias("h"),
            F.col("h.bucket") > F.col("b.bucket"),
            "left",
        )
        .select(
            F.col("b.bucket").alias("bucket"),
            F.col("h.bucket").alias("__hb"),
            F.col("h.rk").alias("__hrk"),
            F.col("h.__hid").alias("__hid"),
        )
    )
    w_a = Window.partitionBy("bucket").orderBy("__hb", "__hrk")
    succ = (
        after.withColumn("__rn", F.row_number().over(w_a))
        .groupBy("bucket")
        .agg(
            F.max(F.when(F.col("__rn") == 1, F.col("__hid"))).alias("__a1"),
            F.max(F.when(F.col("__rn") == 2, F.col("__hid"))).alias("__a2"),
        )
        .crossJoin(F.broadcast(wrap2))
        .select(
            "bucket",
            F.coalesce("__a1", "__w1").alias("__s1"),
            F.coalesce(
                "__a2",
                F.when(F.col("__a1").isNull(), F.col("__w2")).otherwise(
                    F.col("__w1")
                ),
            ).alias("__s2"),
        )
    )
    out = led.join(F.broadcast(succ), "bucket")
    neg1 = F.coalesce(F.col("__l1"), F.col("__s1"))
    neg2 = F.coalesce(
        F.col("__l2"),
        F.when(F.col("__l1").isNull(), F.col("__s2")).otherwise(
            F.col("__s1")
        ),
    )
    return out.select(
        id_col, neg1.alias("neg1"), neg2.alias("neg2")
    )


#: KMV sketch size — fixed operator contract (Bar-Yossef et al. 2002,
#: "Counting Distinct Elements in a Data Stream"): estimate from the
#: k-th minimum of a uniform hash of the distinct values.
KMV_K = 64


def kmv_distinct(
    df: DataFrame,
    col: str = "text",
    group_col: str = "source",
    k: int = KMV_K,
    prune_shards: int = 64,
) -> DataFrame:
    """Per-group distinct-token cardinality via a K-minimum-values
    sketch, next to the exact count for calibration.

    Tokens hash to a u32 (big-endian first 4 md5 bytes); per group the
    estimate is ``(k-1) * 2^32 // (v_k + 1)`` where ``v_k`` is the
    k-th smallest DISTINCT hash (the +1 denominator guards v=0 without
    an engine-specific division-by-zero path).  Groups with fewer than
    k distinct hashes report the sketch cardinality itself — there the
    sketch IS exact.

    Scale shape: this is the mergeable-sketch pattern — distinct
    (group, v) pairs partial-aggregate map-side, and the k-th minimum
    is found TWO-phase (per-(group, v%shards) row_number prune to k,
    then the final rank over ≤ shards·k survivors), so no group ever
    funnels its full distinct stream into one task.  At 100 TB the
    honest deployment keeps only the k minima per partition and merges
    (exactly what the prune phase does); the exact countDistinct
    column is the small-scale calibration readout and would be dropped
    — or swapped for approx_count_distinct — at full scale."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col(col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    exact = toks.groupBy("grp").agg(
        F.countDistinct("tok").alias("exact_distinct")
    )
    vframe = toks.select(
        "grp",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
        .cast("bigint")
        .alias("v"),
    ).distinct()
    counts = vframe.groupBy("grp").agg(F.count("*").alias("n_v"))
    w1 = Window.partitionBy("grp", "__shard").orderBy("v")
    pruned = (
        vframe.withColumn("__shard", F.pmod(F.col("v"), F.lit(prune_shards)))
        .withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= k)
        .drop("__shard", "__r")
    )
    w2 = Window.partitionBy("grp").orderBy("v")
    vk = (
        pruned.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == k)
        .select("grp", F.col("v").alias("vk"))
    )
    est = F.when(F.col("n_v") < k, F.col("n_v")).otherwise(
        F.expr(f"CAST({k - 1} AS BIGINT) * 4294967296 DIV (vk + 1)")
    )
    return (
        counts.join(vk, "grp", "left")
        .join(exact, "grp")
        .select(
            F.col("grp").alias(group_col),
            F.col("n_v").cast("bigint").alias("n_v"),
            F.col("vk").cast("bigint").alias("vk"),
            est.cast("bigint").alias("est_distinct"),
            F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        )
    )


#: HyperLogLog layout — fixed operator contract (Flajolet et al. 2007):
#: p = 6 index bits → m = 64 registers, q = 26 rank bits, and the
#: m = 64 bias constant alpha = 0.7213/(1 + 1.079/m) held as the exact
#: integer numerator floor(1e6·alpha)·m² so the estimate is one
#: integer-division chain.
HLL_P = 6
HLL_M = 1 << HLL_P
HLL_Q = 32 - HLL_P
HLL_ALPHA_NUM = 709_340 * HLL_M * HLL_M


def _hll_rank_sql(rem: str) -> str:
    """Dialect-neutral CASE chain: the HLL rank (leading zeros + 1) of
    the ``HLL_Q``-bit remainder expression ``rem``; an all-zero
    remainder ranks ``HLL_Q + 1``.  Pure integer comparisons — no
    float log2 whose boundary rounding could diverge — so the SAME
    text renders on the JVM and in DuckDB."""
    branches = " ".join(
        f"WHEN {rem} >= {1 << (HLL_Q - 1 - z)} THEN {z + 1}"
        for z in range(HLL_Q)
    )
    return f"CASE {branches} ELSE {HLL_Q + 1} END"


def hll_distinct(
    df: DataFrame,
    col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group distinct-token cardinality via HyperLogLog registers
    (m = 64), next to the exact count for calibration — the mergeable
    sibling of kmv_distinct for UNION-able sketches.

    Tokens hash to the SAME big-endian u32 as kmv_distinct; the top
    ``HLL_P`` bits pick a register and the rank is the position of the
    highest set bit of the remaining ``HLL_Q`` bits (a CASE chain of
    integer comparisons).  The raw estimate alpha·m²/Σ2^(-M_j) is
    evaluated EXACTLY: with the harmonic denominator carried in units
    of 2^(-(Q+1)) — Σ 2^(Q+1-M_j) over occupied registers plus
    2^(Q+1) per empty register — the estimate is
    ``HLL_ALPHA_NUM · 2^(Q+1) DIV denom DIV 1e6`` in decimal(38,0)
    (≡ HUGEINT ``//`` in the oracle).  The small-range linear-counting
    correction is deliberately NOT applied (it needs ln()); ``n_regs``
    is emitted so a consumer can apply it downstream.

    Scale shape: THE mergeable sketch — max() per (group, register)
    partial-aggregates map-side, so only ≤ m rows per group cross the
    exchange and per-partition register vectors merge by elementwise
    max without re-reading tokens; the per-group fold is a 64-row sum.
    The exact countDistinct column is the small-scale calibration
    readout and would be dropped — or kept as approx_count_distinct,
    which is this very sketch JVM-native — at 100 TB."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col(col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    exact = toks.groupBy("grp").agg(
        F.countDistinct("tok").alias("exact_distinct")
    )
    h = toks.select(
        "grp",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
        .cast("bigint")
        .alias("v"),
    )
    regs = (
        h.select(
            "grp",
            F.expr(f"v DIV {1 << HLL_Q}").alias("reg"),
            F.expr(_hll_rank_sql(f"(v % {1 << HLL_Q})")).alias("rk"),
        )
        .groupBy("grp", "reg")
        .agg(F.max("rk").alias("mr"))
    )
    g = regs.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_regs"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_Q + 1} - mr)")
        ).alias("pd"),
    )
    denom = (
        F.col("pd")
        + (F.lit(HLL_M).cast("long") - F.col("n_regs"))
        * F.lit(1 << (HLL_Q + 1))
    )
    est = F.expr(
        f"CAST(CAST({HLL_ALPHA_NUM} AS DECIMAL(38,0)) * {1 << (HLL_Q + 1)}"
        " DIV denom DIV 1000000 AS BIGINT)"
    )
    return (
        g.withColumn("denom", denom.cast("long"))
        .join(exact, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_regs",
            "denom",
            est.alias("est_distinct"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
        )
    )


#: temperature_mix contract: alpha = 1/2 (weights ∝ sqrt(domain size) —
#: the multilingual-LM temperature-sampling standard), budget = half
#: the corpus, weights held in exact micro-units.
TEMP_MIX_SALT = "tm0"
TEMP_MIX_BUDGET_DEN = 2


def temperature_mix(
    df: DataFrame,
    domain_col: str = "domain",
    id_col: str = "doc_id",
    salt: str = TEMP_MIX_SALT,
    budget_den: int = TEMP_MIX_BUDGET_DEN,
) -> DataFrame:
    """Temperature-based domain rebalancing (alpha = 0.5): sample a
    corpus-half budget across domains with probability ∝ sqrt(domain
    size), flattening head domains and boosting the tail — the
    standard multilingual / multi-source mixture smoother.

    Per-domain weight is ``floor(sqrt(n_d) * 1e6)`` (sqrt is IEEE
    correctly-rounded, so the micro-unit floor is engine-exact); the
    allocation is pure BIGINT: ``target_d = (total DIV budget_den) *
    w_d DIV sum_w``.  Within a domain the kept documents are the first
    ``target_d`` in deterministic md5(salt:id) order.

    Scale shape: unlike domain_cap's constant small k, the temperature
    target is a LARGE fraction of each domain, so a shard-prune keeps
    everything and a per-domain rank window would sort a billion-doc
    head domain in one task.  Instead the selection is a distributed
    rank over md5 PREFIX buckets (the reshard_by_bytes trick: the
    bucket is the key's first byte, so bucket-then-key order IS global
    key order): per-(domain, bucket) counts roll into per-domain
    running offsets (a ≤ domains×256-row broadcast frame), buckets
    whose offset already exceeds the target drop ENTIRELY before any
    sort, and each surviving bucket ranks only its own ~n_d/256 slice
    — global rank = bucket offset + within-bucket row_number."""
    from pyspark.sql import Window

    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").alias("cnt")
    )
    wgt = counts.select(
        "domain",
        "cnt",
        F.floor(F.sqrt(F.col("cnt")) * 1000000.0).cast("bigint").alias("__w"),
    )
    tot = wgt.groupBy().agg(
        F.sum("cnt").cast("bigint").alias("__total"),
        F.sum("__w").cast("bigint").alias("__sumw"),
    )
    # decimal(38,0) keeps (budget × micro-unit weight) exact at any
    # corpus size (BIGINT would overflow past ~10^12 docs); DIV on
    # decimals ≡ DuckDB HUGEINT //
    targets = wgt.crossJoin(F.broadcast(tot)).select(
        "domain",
        F.expr(
            f"CAST(CAST(__total DIV {budget_den} AS DECIMAL(38,0))"
            " * __w DIV __sumw AS BIGINT)"
        ).alias("target"),
    )
    key = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    base = df.select(F.col(domain_col).alias("domain"), F.col(id_col)).select(
        "domain", id_col, key.alias("__key")
    )
    bucket = F.substring("__key", 1, 2)
    keyed = base.withColumn("__b", bucket)
    # per-(domain, bucket) sizes → rows BEFORE each bucket in global
    # (domain, key) order; the frame is ≤ domains×256 rows
    w_off = (
        Window.partitionBy("domain")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        keyed.groupBy("domain", "__b")
        .agg(F.count("*").alias("__n"))
        .select(
            "domain",
            "__b",
            F.coalesce(F.sum("__n").over(w_off), F.lit(0).cast("bigint")).alias(
                "__off"
            ),
        )
        .join(targets, "domain")
        # a bucket whose offset already meets the target contributes
        # nothing — dropping it here prunes whole buckets map-side
        .filter(F.col("__off") < F.col("target"))
    )
    w_b = Window.partitionBy("domain", "__b").orderBy(
        F.asc("__key"), F.asc(id_col)
    )
    return (
        keyed.join(F.broadcast(offsets), ["domain", "__b"])
        .withColumn("rank", F.col("__off") + F.row_number().over(w_b))
        .filter(F.col("rank") <= F.col("target"))
        .select(
            "domain",
            id_col,
            F.col("rank").cast("bigint").alias("rank"),
            "target",
        )
    )


#: count-min sketch contract: depth x width counter grid and the
#: heavy-hitter gate (est >= total_tokens DIV CMS_HH_DIV)
CMS_DEPTH = 4
CMS_WIDTH = 64
CMS_HH_DIV = 100


def cms_heavy_hitters(
    df: DataFrame,
    col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    hh_div: int = CMS_HH_DIV,
) -> DataFrame:
    """Token heavy hitters via a count-min sketch — the mergeable-sketch
    sibling of kmv_distinct for COUNTS: ``depth`` md5 hash rows map every
    token into ``width`` buckets, bucket counters sum occurrences, and a
    token's estimate is the MINIMUM of its ``depth`` counters (an
    overestimate by construction, tight for heavy keys).  Reported heavy
    hitters are tokens whose estimate reaches ``total_tokens DIV
    hh_div``.

    The exact per-token count rides along as small-scale calibration
    (``est_count >= exact_count`` must hold row-for-row); at 100 TB the
    exact column drops and the counter grid is built straight from raw
    occurrences map-side — a (depth x width)-cell partial aggregate per
    partition, the canonical mergeable sketch — with only the grid and
    the candidate vocabulary crossing exchanges.

    Scale shape: one exchange on the token (shared by the count and the
    candidate probe), a ``depth * width``-row counter table that
    BROADCASTS into the estimate join, and a 1-row broadcast total for
    the threshold.  All counters are exact int64 sums — hash-stable
    across engines."""
    toks = df.select(
        F.explode(F.split(F.col(col), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tc = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )

    def _bucket(j: int) -> Column:
        return F.pmod(
            _md5_u32(F.md5(F.concat(F.lit(f"cms{j}:"), F.col("tok")))),
            F.lit(width),
        )

    pairs = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("j"),
                _bucket(j).cast("int").alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    hashed = tc.select("tok", "cnt", F.inline(pairs))
    counters = hashed.groupBy("j", "bucket").agg(
        F.sum("cnt").alias("bucket_cnt")
    )
    est = (
        hashed.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("tok")
        .agg(
            F.min("bucket_cnt").alias("est_count"),
            F.max("cnt").alias("exact_count"),
        )
    )
    total = tc.agg(F.sum("cnt").alias("__total"))
    thresh = F.expr(f"__total DIV {hh_div}")
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est_count") >= thresh)
        .select(
            F.col("tok").alias("token"),
            F.col("est_count").cast("long").alias("est_count"),
            F.col("exact_count").cast("long").alias("exact_count"),
            thresh.cast("long").alias("threshold"),
        )
    )


#: T5 span-corruption contract (Raffel et al. 2020, §3.1.4 "replace
#: corrupted spans"): a span STARTS at token position i when the
#: big-endian md5-u32 draw h(doc_id, pos) % SPAN_START_DEN == 0 (~5%
#: of positions) and runs 2 + (h DIV SPAN_START_DEN) % 3 tokens (2-4);
#: overlapping/adjacent spans merge into one sentinel.
SPAN_START_DEN = 20
SPAN_LEN_MAX = 4


def span_corruption(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic T5/UL2 span corruption: replace masked token
    spans with numbered ``<extra_id_k>`` sentinels in the input and
    emit the masked spans (each prefixed by its sentinel) as the
    target — the denoising-pretraining pair generator.

    The "noise" is an md5 draw per (doc, position), so both engines
    replay the identical mask.  A position is masked when any of the
    last ``SPAN_LEN_MAX`` positions started a span long enough to
    cover it — a bounded lag chain, no self-join; sentinel numbers are
    the running count of mask-run starts.

    Scale shape: ONE exchange on the doc id; the three window layers
    and the final ordered re-assembly aggregate all share that
    partitioning, so AQE plans a single shuffle and tokens cross the
    wire exactly once (as (doc, pos, tok) triples)."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(col), " ")).alias("pos", "tok"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(id_col), F.col("pos"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    s1 = toks.withColumn("__h", h).select(
        id_col,
        "pos",
        "tok",
        (F.col("__h") % SPAN_START_DEN == 0).alias("st"),
        (
            F.lit(2)
            + F.expr(f"CAST((__h DIV {SPAN_START_DEN}) % 3 AS INT)")
        ).alias("ln"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    m = F.col("st")
    for o in range(1, SPAN_LEN_MAX):
        m = m | F.coalesce(
            F.lag("st", o).over(w) & (F.lag("ln", o).over(w) > o),
            F.lit(False),
        )
    s2 = s1.withColumn("m", m)
    s3 = s2.withColumn(
        "run_start",
        F.col("m") & ~F.coalesce(F.lag("m", 1).over(w), F.lit(False)),
    ).withColumn(
        "k",
        F.sum(F.col("run_start").cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sentinel = F.concat(
        F.lit("<extra_id_"), F.col("k").cast("string"), F.lit(">")
    )
    ival = (
        F.when(~F.col("m"), F.col("tok"))
        .when(F.col("run_start"), sentinel)
        .otherwise(F.lit(None).cast("string"))
    )
    tval = (
        F.when(
            F.col("run_start"), F.concat(sentinel, F.lit(" "), F.col("tok"))
        )
        .when(F.col("m"), F.col("tok"))
        .otherwise(F.lit(None).cast("string"))
    )

    return s3.groupBy(id_col).agg(
        F.array_join(ordered_list("pos", ival), " ").alias("input_text"),
        F.nullif(
            F.array_join(ordered_list("pos", tval), " "), F.lit("")
        ).alias("target_text"),
        F.max("k").cast("long").alias("n_spans"),
        F.sum(F.col("m").cast("int")).cast("long").alias("n_masked"),
    )


#: Fill-in-the-middle contract (Bavarian et al. 2022, "Efficient
#: Training of Language Models to Fill in the Middle"): PSM format
#: with explicit sentinels; the FIM rate is 1/2 (h0 parity) and the
#: two cut points are independent md5 draws over [0, n_tokens].
FIM_PRE = "<fim_prefix>"
FIM_SUF = "<fim_suffix>"
FIM_MID = "<fim_middle>"


def fim_transform(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic fill-in-the-middle transform: for half the corpus
    (md5 parity), split the token stream at two md5-drawn cut points
    and emit the PSM (prefix-suffix-middle) training string
    ``<fim_prefix> P <fim_suffix> S <fim_middle> M``; the other half
    passes through verbatim (the AR-mixture the FIM paper trains on).

    Cross-engine determinism: cut points are ``h % (n_tokens + 1)`` of
    per-(doc, draw) md5-u32s — pure integer arithmetic, and the
    prefix/middle/suffix are array slices re-joined with single
    spaces, so both engines rebuild byte-identical strings.

    Scale shape: ZERO exchanges — every column is a per-row JVM
    expression over the hoisted token array (the shingle-hoist rule:
    split once, slice thrice); the transform pipelines inside
    whatever stage feeds it."""
    ts = F.split(F.col(col), " ")
    h = lambda salt: F.conv(  # noqa: E731
        F.substring(
            F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    base = df.select(
        F.col(id_col),
        ts.alias("__t"),
        (h("fim0") % 2 == 0).alias("fim_applied"),
        h("fim1").alias("__h1"),
        h("fim2").alias("__h2"),
    ).select(
        id_col,
        "__t",
        "fim_applied",
        F.expr("__h1 % (size(__t) + 1)").alias("__c1"),
        F.expr("__h2 % (size(__t) + 1)").alias("__c2"),
    )
    lo = F.least("__c1", "__c2")
    hi = F.greatest("__c1", "__c2")
    cut = base.select(
        id_col,
        "__t",
        "fim_applied",
        lo.cast("int").alias("__lo"),
        hi.cast("int").alias("__hi"),
    )
    join = lambda arr: F.array_join(arr, " ")  # noqa: E731
    pre = join(F.expr("slice(__t, 1, __lo)"))
    mid = join(F.expr("slice(__t, __lo + 1, __hi - __lo)"))
    suf = join(F.expr("slice(__t, __hi + 1, size(__t) - __hi)"))
    psm = F.concat(
        F.lit(FIM_PRE + " "),
        pre,
        F.lit(" " + FIM_SUF + " "),
        suf,
        F.lit(" " + FIM_MID + " "),
        mid,
    )
    return cut.select(
        id_col,
        "fim_applied",
        F.when(F.col("fim_applied"), psm)
        .otherwise(join(F.col("__t")))
        .alias("text_out"),
        F.when(F.col("fim_applied"), F.col("__hi") - F.col("__lo"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_middle_tokens"),
    )


#: stratified eval-split contract parameters: global eval budget and
#: the deterministic selection salt (reference prices its eval split
#: from a config knob the same way — SURVEY.md §2.5).
STRAT_SPLIT_BUDGET = 37
STRAT_SPLIT_SALT = "strat0"


def stratified_split(
    df: DataFrame,
    strata_cols: "tuple[str, ...]" = ("lang", "source"),
    id_col: str = "doc_id",
    budget: int = STRAT_SPLIT_BUDGET,
    salt: str = STRAT_SPLIT_SALT,
    prune_shards: int = 64,
) -> DataFrame:
    """Exact-count stratified eval-set construction: apportion a global
    eval budget across strata by the largest-remainder (Hamilton)
    method — quota_s = floor(B·n_s/N) plus one extra seat for the
    strata with the largest remainders until exactly B seats are
    placed — then select each stratum's quota under the deterministic
    (md5(salt:id), id) order.  Unlike the per-row Bernoulli of
    :func:`split_assign`, the output size is EXACTLY ``budget`` and
    every stratum is represented proportionally — the eval-set recipe
    for heterogeneous corpora where a random split under- or
    over-samples small languages.

    All apportionment arithmetic is integer (B·n_s in decimal(38,0) ≡
    DuckDB HUGEINT, DIV/remainder — no float shares), so quotas are
    engine-exact; remainder ties break on the stratum key.

    Scale shape: the counts frame is one row per STRATUM (metadata
    scale — the apportionment window runs over #strata rows, not
    documents), the quota table broadcasts back, and the per-stratum
    selection is the domain_cap TWO-phase rank — a per-(stratum,
    shard) row_number prune to the stratum quota, then the final rank
    over ≤ shards·quota survivors — so a billion-document stratum
    never funnels into one partition.  Only (strata, id, 32-char key)
    ever shuffles."""
    from pyspark.sql import Window

    sc = [F.col(c) for c in strata_cols]
    counts = df.groupBy(*sc).agg(F.count(F.lit(1)).alias("__n"))
    # metadata-scale frame: windows over #strata rows, not documents
    w_all = Window.partitionBy()
    big = F.expr(f"CAST({budget} AS decimal(38,0)) * __n")
    tot = F.sum("__n").over(w_all).cast("decimal(38,0)")
    q = (
        counts.withColumn("__tot", tot)
        .withColumn("__big", big)
        .withColumn(
            "__base",
            F.expr("CAST(__big DIV __tot AS BIGINT)"),
        )
        .withColumn(
            "__rem",
            (F.col("__big") - F.col("__base") * F.col("__tot")).cast(
                "decimal(38,0)"
            ),
        )
        .withColumn(
            "__extra", F.lit(budget) - F.sum("__base").over(w_all)
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                w_all.orderBy(
                    F.desc("__rem"), *[F.asc(c) for c in strata_cols]
                )
            ),
        )
        .select(
            *strata_cols,
            (
                F.col("__base")
                + F.when(F.col("__rn") <= F.col("__extra"), 1).otherwise(0)
            ).alias("quota"),
        )
        .filter(F.col("quota") > 0)
    )
    key = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    base = df.select(*sc, F.col(id_col)).withColumn("__key", key)
    picked = base.join(F.broadcast(q), list(strata_cols))
    return _two_phase_rank(
        picked,
        list(strata_cols),
        [F.asc("__key"), F.asc(id_col)],
        id_col,
        F.col("quota"),
        prune_shards,
    ).select(
        *strata_cols,
        id_col,
        F.col("__rank").alias("eval_rank"),
        "quota",
    )
