"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale shape (the part that matters at 100 TB):

- exact: one hash-aggregate on a digest of the text — map-side partial
  combine, no text shuffled (only the 32-byte digest + ids).
- MinHash+LSH: per-doc signatures (Arrow-batched UDF, one pass), band keys
  by built-in md5, then a groupBy on band key → candidate groups. The only
  shuffle is on the (short) band keys; no O(n²) comparisons.
- verification: exact n-gram Jaccard on candidate PAIRS only, with
  JVM-side array_intersect/array_union — Python never sees the text.

Signatures hash the SAME unit the verify stage measures — distinct word
3-gram shingles — so band collision probability tracks the verify metric
(P ≈ J_shingle^band_size per band). Round 2 signed unigram tokens: on a
bounded vocabulary token-set Jaccard is high between unrelated docs, and
the measured candidate:verified ratio was ~4000:1 (~99k candidates for 25
true pairs at sf0.01). Shingle signatures with 16 hashes × 4-hash bands
bring that to ~1:1 on the same corpus — at 100 TB the verify join cost IS
the dedup cost, so candidate precision is the scale lever.

MinHash base hash = signed little-endian int128 of md5(f"{seed}:{shingle}")
— chosen because DuckDB's md5_number computes the identical value, so the
DuckDB oracle can replay signatures bit-for-bit.
"""

from __future__ import annotations

import hashlib
import weakref
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.worker import python_stage

DEFAULT_NUM_HASHES = 16
DEFAULT_BAND_SIZE = 4
DEFAULT_SHINGLE_N = 3  # signature + verify share the same shingle unit


def _own_caches(result: DataFrame, frames: list[DataFrame]) -> DataFrame:
    """Tie persisted helper frames to the RESULT's lifetime. The cached
    frames must outlive any action on the lazy result, so they cannot be
    unpersisted eagerly here; when the caller declines ownership
    (caches=None) a weakref finalizer releases them once the returned
    handle is garbage-collected — no leaked storage across a long session
    or sweep. The finalizer captures the JVM Dataset handles, not the
    Python wrappers (finalize holds its args strongly — holding the
    result itself would keep it alive forever)."""

    def _release(jdfs=[f._jdf for f in frames]):
        for j in jdfs:
            try:
                j.unpersist(False)
            except Exception:
                pass  # session already stopped / interpreter shutdown

    weakref.finalize(result, _release)
    return result


def md5_number(s: str) -> int:
    """Signed little-endian int128 of md5 — equals DuckDB md5_number()."""
    v = int.from_bytes(hashlib.md5(s.encode()).digest(), "little")
    return v - (1 << 128) if v >= (1 << 127) else v


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: digest-groupBy, keeper = min id.

    Aggregates on md5(text) so only digests cross the shuffle.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(
            F.min(id_col).alias("keeper"),
            F.count("*").cast("long").alias("n_dups"),
        )
    )


def _digest_matrix(tokens: list[bytes], ctx) -> "tuple[np.ndarray, np.ndarray]":
    """md5 digests of ``prefix+token`` for every distinct token, as two
    numpy columns: (hi: int64 signed upper half, lo: uint64 lower half) of
    the little-endian int128 — md5_number's value is hi·2^64 + lo. The
    seeded context is copy()d per token (C-speed), so each lane costs one
    md5 update per DISTINCT token, not per occurrence."""
    buf = bytearray(16 * len(tokens))
    mv = memoryview(buf)
    for ti, tb in enumerate(tokens):
        c = ctx.copy()
        c.update(tb)
        mv[16 * ti : 16 * ti + 16] = c.digest()
    arr = np.frombuffer(bytes(buf), dtype="<u8").reshape(-1, 2)
    lo = arr[:, 0].copy()
    hi = arr[:, 1].copy().view(np.int64)  # two's-complement upper half
    return hi, lo


def _shingle_set(text: str, n: int) -> set[str]:
    """Distinct word n-gram shingles; a doc too short to shingle
    (< n tokens) signs its FULL text instead, so every doc has a
    well-defined signature and — critically — two short docs collide
    only when their text is identical. (A shared constant sentinel would
    put EVERY short doc of a web-scale corpus into the same bucket in
    every band: an O(n²) candidate blowup that the verify stage then
    rejects wholesale, since un-shinglable docs can never reach the
    Jaccard threshold.) A short text cannot equal a real n-gram shingle
    — it has fewer than n-1 separators — so no cross-class collisions.
    Mirrors the oracle's list_distinct/list_slice SQL exactly (including
    ''.split(' ') == [''] → too short → sign "")."""
    toks = text.split(" ")
    if len(toks) < n:
        return {text}
    shs = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    return shs or {text}


def _minhash_batch(num_hashes: int, ngram: int = DEFAULT_SHINGLE_N):
    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # built here, not in the closure: hashlib contexts don't pickle
        prefixes = [hashlib.md5(f"{i}:".encode()) for i in range(num_hashes)]
        for pdf in it:
            texts = pdf["text"].tolist()
            n_docs = len(texts)
            # batch shingle vocabulary + per-doc distinct-shingle
            # membership pairs: the md5 work scales with |vocab|·lanes,
            # not with occurrences·lanes
            vocab: dict[str, int] = {}
            pair_doc: list[int] = []
            pair_tid: list[int] = []
            for di, text in enumerate(texts):
                for t in _shingle_set(text, ngram):
                    tid = vocab.setdefault(t, len(vocab))
                    pair_doc.append(di)
                    pair_tid.append(tid)
            tokens_b = [t.encode() for t in vocab]
            doc_arr = np.asarray(pair_doc, dtype=np.int64)
            tid_arr = np.asarray(pair_tid, dtype=np.int64)
            sigs: list[list[str]] = [[] for _ in range(n_docs)]
            for ctx in prefixes:
                hi, lo = _digest_matrix(tokens_b, ctx)
                # per-doc min of the signed int128 = lexicographic min on
                # (hi signed, lo unsigned): sort pairs by (doc, hi, lo),
                # take the first row per doc — all numpy, no Python loop
                order = np.lexsort((lo[tid_arr], hi[tid_arr], doc_arr))
                first = np.unique(doc_arr[order], return_index=True)[1]
                sel = tid_arr[order[first]]
                min_hi, min_lo = hi[sel], lo[sel]
                for d in range(n_docs):
                    sigs[d].append(str((int(min_hi[d]) << 64) + int(min_lo[d])))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": sigs})

    return fn


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """(id, sig: array<string>) — signature values as strings because the
    hash space is int128 (beyond Spark's long); sig[i] = min over distinct
    word 3-gram shingles of md5_number(f"{i}:{shingle}")."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("sig", T.ArrayType(T.StringType())),
        ]
    )
    return src.mapInPandas(_minhash_batch(num_hashes), schema)


def lsh_bands(
    sigs: DataFrame,
    band_size: int = DEFAULT_BAND_SIZE,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Explode signatures into (band_idx, band_key, doc_id); band_key =
    md5 of the band's joined signature values (built-in, JVM-side).

    ONE posexplode over an array of band keys — a union of per-band
    selects would make Spark re-run the signature UDF (and re-scan the
    input) once PER BAND, multiplying the dominant kernel cost."""
    n = band_size  # num_hashes must match the signature length upstream
    keys = F.array(
        *[
            F.md5(F.concat_ws("_", *[F.col("sig")[b * n + j] for j in range(n)]))
            for b in range(num_hashes // n)
        ]
    )
    return sigs.select(
        F.posexplode(keys).alias("band_idx", "band_key"), "doc_id"
    ).select("band_idx", "band_key", "doc_id")


def lsh_candidate_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidate groups:
    (band_idx, band_key, n_docs, min_doc, max_doc) for buckets with >1 doc.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes)
    return (
        lsh_bands(sigs, band_size, num_hashes=num_hashes)
        .groupBy("band_idx", "band_key")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


def ngram_jaccard(
    pairs: DataFrame,
    left_text: str = "text_a",
    right_text: str = "text_b",
    n: int = 3,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity per candidate pair — entirely
    built-in (transform/sequence/array_intersect/array_union), rounded to
    4 decimals. pairs must carry the two text columns."""

    def shingles(tok_col: str):
        # m words → m-n+1 shingles; guard m<n (Spark sequence() descends
        # when stop < start, so an unguarded expression would be wrong).
        # The lambda slices a pre-split token COLUMN — re-splitting the
        # text inside the lambda would be O(words²) per row.
        return F.expr(
            f"case when size({tok_col}) < {n} then array()"
            f" else array_distinct(transform("
            f"  sequence(1, size({tok_col}) - {n} + 1),"
            f"  i -> concat_ws(' ', slice({tok_col}, i, {n})))) end"
        )

    t = pairs.withColumns(
        {
            "__ta": F.split(F.col(left_text), " "),
            "__tb": F.split(F.col(right_text), " "),
        }
    )
    a, b = shingles("__ta"), shingles("__tb")
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return t.withColumn(
        "jaccard",
        F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 4),
    ).drop("__ta", "__tb")


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (keeper = lower id, dup_id,
    cosine_r ≥ threshold), exact.

    This is the VERIFY stage of near-dup-by-embedding: at 100 TB the
    candidate pairs come from the hyperplane-bucket join
    (similarity.lsh_bucketed_topk) so only bucket-collisions are scored;
    the all-pairs form here is the exactness baseline the DuckDB oracle
    replays, and what you run on a single bucket's contents. Dot products
    are JVM-side (zip_with/aggregate) in double precision; only ids and
    the rounded score leave the join."""
    from ocr_spark.operators.similarity import with_cosine_expr

    a = emb.select(F.col(id_col).alias("keeper"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("dup_id"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("dup_id") > F.col("keeper"), "inner")
    return (
        pairs.withColumn("cosine_r", F.round(with_cosine_expr("va", "vb"), 4))
        .filter(F.col("cosine_r") >= threshold)
        .select("keeper", "dup_id", "cosine_r")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    caches: "list[DataFrame] | None" = None,
) -> DataFrame:
    """Distinct MinHash-LSH candidate pairs (a < b): band self-join on the
    short band keys — ids only, no text, no all-pairs. The band frame is
    persisted: a self-join re-evaluates its plan per side, which would run
    the signature kernel TWICE (Spark does not dedup common subplans).
    The cache must outlive any action on the returned LAZY frame, so the
    caller owns its lifetime: pass ``caches`` to collect persisted frames
    for unpersisting after your action (duplicate_clusters does). With
    ``caches=None`` the cache is released automatically when the returned
    frame is garbage-collected (weakref finalizer) — nothing leaks."""
    own = caches is None
    if own:
        caches = []
    bands = lsh_bands(
        minhash_signatures(df, text_col, id_col, num_hashes),
        band_size,
        num_hashes=num_hashes,
    ).persist()
    caches.append(bands)
    result = (
        bands.alias("x")
        .join(bands.alias("y"), ["band_idx", "band_key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    return _own_caches(result, caches) if own else result


def hard_negatives(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
) -> DataFrame:
    """Hard-negative mining — the contrastive-training counterpart of
    :func:`~ocr_spark.operators.textops.negative_sample`: where the
    ring gives each anchor UNIFORM negatives, this gives LEXICALLY
    CLOSE ones (documents that collide with the anchor in some
    MinHash-LSH band — same shingle neighborhood — the negatives that
    actually teach an embedding model its decision boundary), while
    excluding exact duplicates (same content digest), which would be
    false negatives. Per anchor the top-``k`` band-mates by the
    deterministic pair hash md5('hn:anchor:cand') are emitted as
    (doc_id, hard1, hard2); anchors with no usable band-mate emit
    nothing (fall back to the ring for those).

    Scale shape: candidates come from the banding self-join (ids only
    across the exchange — lsh_candidate_pairs), digests join as
    (id, 16-byte md5), and the per-anchor top-k is a window over the
    CANDIDATE pairs keyed on the anchor id — never over the corpus."""
    from pyspark.sql.window import Window

    caches: list[DataFrame] = []
    pairs = lsh_candidate_pairs(df, text_col, id_col, caches=caches)
    directed = pairs.select(
        F.col("a").alias("__anchor"), F.col("b").alias("__cand")
    ).unionByName(
        pairs.select(F.col("b").alias("__anchor"), F.col("a").alias("__cand"))
    )
    dg = df.select(
        F.col(id_col).alias("__i"), F.md5(F.col(text_col)).alias("__dg")
    )
    j = (
        directed.join(
            dg.select(
                F.col("__i").alias("__anchor"), F.col("__dg").alias("__dga")
            ),
            "__anchor",
        )
        .join(
            dg.select(
                F.col("__i").alias("__cand"), F.col("__dg").alias("__dgc")
            ),
            "__cand",
        )
        .filter(F.col("__dga") != F.col("__dgc"))
    )
    rk = F.md5(
        F.concat(
            F.lit("hn:"),
            F.col("__anchor").cast("string"),
            F.lit(":"),
            F.col("__cand").cast("string"),
        )
    )
    w = Window.partitionBy("__anchor").orderBy(rk, "__cand")
    ranked = j.select(
        "__anchor", "__cand", F.row_number().over(w).alias("__rn")
    ).filter(F.col("__rn") <= k)
    out = ranked.groupBy("__anchor").agg(
        *[
            F.max(F.when(F.col("__rn") == i, F.col("__cand"))).alias(
                f"hard{i}"
            )
            for i in range(1, k + 1)
        ]
    )
    return _own_caches(
        out.select(
            F.col("__anchor").alias(id_col),
            *[f"hard{i}" for i in range(1, k + 1)],
        ),
        caches,
    )


def verified_dup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    ngram: int = 3,
    caches: "list[DataFrame] | None" = None,
) -> DataFrame:
    """LSH candidates → exact n-gram-Jaccard verify ≥ threshold: the
    (a, b, jaccard) edges safe to cluster over. Verification is MANDATORY
    before transitive closure — band collisions are probabilistic, and
    closure amplifies every false positive into a merged cluster. (With
    the r2 unigram-token signatures this stage saw ~99k candidates for 25
    real pairs at sf0.01; shingle signatures + 4-hash bands bring it to
    ~1:1, but the verify gate stays — precision of the FINAL edges must
    not depend on banding luck.)
    Shingle arrays are computed ONCE per doc and joined to the pairs by
    id, so the quadratic-ish candidate set never re-tokenizes text.
    Cache ownership follows lsh_candidate_pairs: pass ``caches`` to own
    the persisted frames, or leave None for GC-tied release."""
    own = caches is None
    if own:
        caches = []
    pairs = lsh_candidate_pairs(
        df, text_col, id_col, num_hashes, band_size, caches=caches
    )
    # tokens hoisted so the shingle lambda slices a column, not a
    # per-element re-split of the text (O(words²) per doc otherwise)
    sh = F.expr(
        f"case when size(__toks) < {ngram} then array()"
        f" else array_distinct(transform("
        f"  sequence(1, size(__toks) - {ngram} + 1),"
        f"  i -> concat_ws(' ', slice(__toks, i, {ngram})))) end"
    )
    shingled = (
        df.select(F.col(id_col).alias("sid"), F.split(F.col(text_col), " ").alias("__toks"))
        .select("sid", sh.alias("sh"))
        .withColumn("nsh", F.size("sh"))
        .persist()
    )
    caches.append(shingled)
    # provable length prefilter (AllPairs/PPJoin): J ≤ min(|A|,|B|)/max —
    # a size-ratio below the threshold can never verify, so the expensive
    # array intersect runs only on size-compatible pairs. The join for
    # the filter moves two INTs per pair; arrays attach to survivors.
    # Slack 1e-3 covers the 4-decimal rounding of the final score.
    sized = (
        pairs.join(
            shingled.select(F.col("sid").alias("a"), F.col("nsh").alias("na")), "a"
        )
        .join(
            shingled.select(F.col("sid").alias("b"), F.col("nsh").alias("nb")), "b"
        )
        .filter(
            F.least("na", "nb").cast("double")
            >= F.greatest("na", "nb").cast("double") * F.lit(threshold - 1e-3)
        )
        .select("a", "b")
    )
    inter = F.size(F.array_intersect("sha", "shb")).cast("double")
    union = F.size(F.array_union("sha", "shb")).cast("double")
    result = (
        sized.join(
            shingled.select(F.col("sid").alias("a"), F.col("sh").alias("sha")), "a"
        )
        .join(shingled.select(F.col("sid").alias("b"), F.col("sh").alias("shb")), "b")
        .withColumn(
            "jaccard",
            F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return _own_caches(result, caches) if own else result


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    ngram: int = 3,
) -> DataFrame:
    """Broder containment verify — the ASYMMETRIC sibling of the
    Jaccard verify: c = |A∩B| / min(|A|,|B|) over shingle sets flags
    INCLUSION (one document embedded inside a larger one — syndicated
    text re-published inside boilerplate, quoted articles), which
    symmetric Jaccard under-scores as the size ratio grows (J ≤
    min/max, so a perfect containment inside a 4× larger page scores
    J ≤ 0.25 and survives Jaccard dedup). Candidates come from the
    shared MinHash banding — a contained document's shingles are a
    subset of its container's, so their per-lane minima often
    coincide — and deliberately WITHOUT verified_dup_pairs' length
    prefilter: size-mismatched pairs are exactly the signal here.

    Scale shape: identical to the Jaccard verify — candidate ids from
    the band self-join, shingle arrays computed once per doc and
    joined by id (text never re-tokenizes per pair), one single-division
    rounded score (the engine-safe float pattern)."""
    caches: list[DataFrame] = []
    pairs = lsh_candidate_pairs(
        df, text_col, id_col, num_hashes, band_size, caches=caches
    )
    sh = F.expr(
        f"case when size(__toks) < {ngram} then array()"
        f" else array_distinct(transform("
        f"  sequence(1, size(__toks) - {ngram} + 1),"
        f"  i -> concat_ws(' ', slice(__toks, i, {ngram})))) end"
    )
    shingled = (
        df.select(
            F.col(id_col).alias("sid"),
            F.split(F.col(text_col), " ").alias("__toks"),
        )
        .select("sid", sh.alias("sh"))
        .persist()
    )
    caches.append(shingled)
    inter = F.size(F.array_intersect("sha", "shb")).cast("double")
    mins = F.least(F.size("sha"), F.size("shb")).cast("double")
    result = (
        pairs.join(
            shingled.select(F.col("sid").alias("a"), F.col("sh").alias("sha")),
            "a",
        )
        .join(
            shingled.select(F.col("sid").alias("b"), F.col("sh").alias("shb")),
            "b",
        )
        .withColumn(
            "containment",
            F.round(
                F.when(mins > 0, inter / mins).otherwise(F.lit(0.0)), 4
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "containment")
    )
    return _own_caches(result, caches)


def duplicate_clusters(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """Connected-components duplicate clustering: every doc labeled with
    the MIN doc_id of its near-duplicate component (VERIFIED LSH pairs as
    edges — see verified_dup_pairs; singletons keep their own id).

    The closure is :func:`graph.connected_components`: min-label
    propagation, one distributed join + keyed min-aggregate per round,
    until the edges left between labels fit under its driver bound and
    union-find ends it, so any chain length converges.
    Deterministic under any partitioning — labels are mins, never
    first-seen."""
    from ocr_spark.operators.graph import connected_components

    caches: list[DataFrame] = []
    pairs = verified_dup_pairs(
        df, threshold, text_col, id_col, num_hashes, band_size, caches=caches
    )
    try:
        labels = connected_components(
            pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            df.select(F.col(id_col).alias("id")),
        )
    finally:
        for c in caches:  # band/shingle caches from the pair build
            c.unpersist()
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def embedding_cosine_dedup_lsh(
    emb: DataFrame,
    threshold: float = 0.35,
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs at scale: hyperplane-LSH bucket candidates
    → exact cosine verify (keeper = lower id, cosine_r ≥ threshold).

    This is the CORPUS-LEVEL registered form: the bucket self-join moves
    only (table_idx, bucket, id) — a shuffled equi-join on short int keys,
    never a BroadcastNestedLoopJoin (plan-tested) — and the heavy vector
    columns re-attach per SURVIVING candidate pair. The all-pairs
    ``embedding_cosine_pairs`` is the toy-scale exactness baseline; its
    output is a superset of this one (LSH recall < 1 by construction)."""
    from ocr_spark.operators.similarity import hyperplane_buckets, with_cosine_expr

    # persisted: the self-join would otherwise evaluate all num_tables ×
    # num_planes plane dot products twice (once per join side)
    b = hyperplane_buckets(emb, num_planes, num_tables, dim, id_col, vec_col).persist()
    pairs = (
        b.alias("a")
        .join(b.alias("b"), ["table_idx", "bucket"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("keeper"), F.col("b.vec_id").alias("dup_id")
        )
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("keeper"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("dup_id"), F.col(vec_col).alias("vb"))
    return (
        pairs.join(va, "keeper")
        .join(vb, "dup_id")
        .withColumn("cosine_r", F.round(with_cosine_expr("va", "vb"), 4))
        .filter(F.col("cosine_r") >= threshold)
        .select("keeper", "dup_id", "cosine_r")
    )


@python_stage
def _simhash_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        texts = pdf["text"].tolist()
        n_docs = len(texts)
        # vocabulary + occurrence pairs (duplicates COUNT for simhash —
        # the majority vote weighs every occurrence)
        vocab: dict[str, int] = {}
        occ_doc: list[int] = []
        occ_tid: list[int] = []
        for di, text in enumerate(texts):
            for t in text.split(" ") if text else []:
                occ_doc.append(di)
                occ_tid.append(vocab.setdefault(t, len(vocab)))
        acc = np.zeros((n_docs, 64), dtype=np.int64)
        if vocab:
            # one md5 per DISTINCT token; all 64 bit contributions derived
            # from the uint64 matrix in numpy (the former code ran a
            # 64-iteration Python loop per occurrence)
            buf = bytearray(8 * len(vocab))
            mv = memoryview(buf)
            for ti, t in enumerate(vocab):
                mv[8 * ti : 8 * ti + 8] = hashlib.md5(t.encode()).digest()[:8]
            h = np.frombuffer(bytes(buf), dtype="<u8")
            bits = (
                ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1))
                .astype(np.int64)
                * 2
                - 1
            )
            np.add.at(acc, np.asarray(occ_doc), bits[np.asarray(occ_tid)])
        packed = np.packbits(acc > 0, axis=1, bitorder="little")
        signed = np.ascontiguousarray(packed).view(np.int64).ravel()
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": signed})


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash (token md5 bits, majority vote) as signed long."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("simhash", T.LongType()),
        ]
    )
    return src.mapInPandas(_simhash_batch, schema)


def simhash_bands(sims: DataFrame, band_bits: int = 16) -> DataFrame:
    """Explode 64-bit simhashes into (band_idx, band_val, doc_id): band j =
    bits [16j, 16j+16) of the UNSIGNED value (shiftrightunsigned reads the
    signed long's bit pattern). Entirely JVM-side bit ops, ONE posexplode
    pass so the signature kernel runs once, not once per band."""
    mask = (1 << band_bits) - 1
    vals = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), band_bits * j)
            .bitwiseAND(F.lit(mask))
            .cast("int")
            for j in range(64 // band_bits)
        ]
    )
    return sims.select(
        F.posexplode(vals).alias("band_idx", "band_val"), "doc_id"
    ).select("band_idx", "band_val", "doc_id")


def simhash_candidate_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
) -> DataFrame:
    """SimHash near-duplicate candidate groups via banding — the hamming
    analogue of MinHash LSH: with 4 bands of 16 bits, any pair within
    hamming distance 3 differs in at most 3 bands, so (pigeonhole) shares
    at least one band exactly → lands in the same bucket. The only shuffle
    is on (band_idx, band_val) int keys; text never leaves the signature
    stage. Output: buckets with >1 doc."""
    sims = simhash(df, text_col, id_col)
    return (
        simhash_bands(sims, band_bits)
        .groupBy("band_idx", "band_val")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


def semdedup(
    emb: DataFrame,
    threshold: float = 0.9,
    nlist: int = 16,
    sample_n: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """SemDedup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", arXiv:2303.09540):
    cluster embeddings with the IVF coarse quantizer, then run the
    pairwise cosine check ONLY within each cluster and drop every vector
    that has a lower-id in-cell neighbor at cosine ≥ ``threshold``
    (lowest id kept — a deterministic stand-in for the paper's
    keep-farthest-from-centroid rule). The default 0.9 targets the
    paper's near-duplicate regime on real text embeddings, where
    unrelated documents routinely score cosine 0.3–0.5; lower it only
    for corpora whose similarity distribution warrants it (the contract
    query passes 0.35 explicitly for the near-orthogonal synthetic
    vectors).

    Scale shape: the quadratic is contained per cell (nlist grows with
    the corpus, so cells stay bounded — the paper's own containment);
    training is the bounded md5-ordered driver sample shared with
    ``similarity.ivf_train_centroids``; cell assignment is a map-side
    Arrow-batched matrix product; the self-join shuffles each vector
    once per side on the int cell key; the drop set joins back id-only.
    """
    from ocr_spark.operators.similarity import (
        _cell_assign_udf,
        ivf_train_centroids,
        with_cosine_expr,
    )

    cents = (
        centroids
        if centroids is not None
        else ivf_train_centroids(emb, nlist, sample_n, iters, id_col, vec_col)
    )
    assigned = (
        emb.select(id_col, vec_col)
        .withColumn("cell", _cell_assign_udf(cents)(F.col(vec_col)).cast("long"))
        .persist()
    )
    a = assigned.select(
        "cell", F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = assigned.select(
        "cell", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    dup = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_r", F.round(with_cosine_expr("va", "vb"), 4))
        .filter(F.col("cosine_r") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    out = assigned.join(dup, id_col, "left").select(
        id_col, "cell", F.col("__dup").isNull().alias("kept")
    )
    return _own_caches(out, [assigned])


BLOOM_BITS = 1 << 20  # m — must divide 2^24 (positions use 3 digest bytes)
BLOOM_HASHES = 4  # k


def bloom_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = BLOOM_BITS,
    k: int = BLOOM_HASHES,
) -> DataFrame:
    """Bloom-filter document dedup — the bounded-memory dedup pass
    (the Dolma "BFF" shape, Soldaini et al., arXiv:2402.00159 §2.3:
    a Bloom filter replaces the exact digest table so memory stays
    fixed no matter how many documents stream through, at the price
    of a tunable false-positive rate).

    Order-free distributed formulation: the sequential filter inserts
    documents in id order and flags a document whose ``k`` bits are
    all already set (its own bits are inserted either way, as BFF
    does). Equivalently — and with no sequential state at all — a
    document is flagged iff EACH of its ``k`` bit positions is also
    set by at least one lower-id document (by any of that document's
    hashes). That join-formulation is exactly what runs here, so the
    result is independent of partitioning and parallelism while
    matching the sequential filter bit-for-bit.

    Bit position i = little-endian low-3-bytes of md5(f"{i}:text")
    mod ``m`` — DuckDB's ``md5_number`` (signed little-endian int128)
    reduces to the same value for any ``m`` dividing 2^24, so the
    oracle replays every position exactly.

    Scale shape: text is hashed map-side into ``k`` ints; only
    (id, position) pairs cross the exchange; the per-position
    first-setter is a map-side-partial min; the flag is a per-doc
    aggregate over ints. A 100-TB corpus sizes ``m`` up (2^33 bits =
    1 GiB of filter per the sequential equivalent) — here ``m`` only
    widens the position ints, the shuffle stays (id, int) pairs.
    """
    if (1 << 24) % m != 0:
        raise ValueError(
            f"m must divide 2^24 (got {m}): positions reduce the low 3 "
            "digest bytes, which is uniform only for divisors of 2^24"
        )
    pos_exprs = [
        f"pmod(cast(conv(substring(md5(concat('{i}:', {text_col})), 1, 2), 16, 10) as bigint)"
        f" + 256 * cast(conv(substring(md5(concat('{i}:', {text_col})), 3, 2), 16, 10) as bigint)"
        f" + 65536 * cast(conv(substring(md5(concat('{i}:', {text_col})), 5, 2), 16, 10) as bigint)"
        f", {m})"
        for i in range(k)
    ]
    # (id, pos) feeds BOTH the first-setter agg and the probe join —
    # persist so the text scan + k md5 passes run once (GC-tied release;
    # the cached frame is ints only, tiny next to the corpus)
    bits = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.expr(f"array({', '.join(pos_exprs)})"))).alias(
            "pos"
        ),
    ).persist()
    first = bits.groupBy("pos").agg(F.min(id_col).alias("first_id"))
    per_doc = (
        bits.join(first, "pos")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bits"),
            F.sum(
                F.when(F.col("first_id") < F.col(id_col), 1).otherwise(0)
            ).alias("n_prior_bits"),
        )
    )
    out = per_doc.select(
        id_col,
        F.col("n_bits").cast("long").alias("n_bits"),
        F.col("n_prior_bits").cast("long").alias("n_prior_bits"),
        (F.col("n_prior_bits") == F.col("n_bits")).alias("is_duplicate"),
    )
    return _own_caches(out, [bits])


def cross_snapshot_dedup(
    df: DataFrame,
    prior: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-snapshot deduplication — Dolma's cross-version rule: when
    releasing corpus vN, flag every document whose exact content digest
    already appeared in the previously released vN−1, so re-crawled or
    carried-over documents don't enter training twice across releases.

    Scale shape: both sides reduce to md5 digests before the join (the
    prior side also distinct-aggregates, map-side partial), so the
    exchange carries (16-byte digest[, id]) only — never text; at 100 TB
    the prior-release digest set is itself huge, so this is a shuffled
    digest join, not a broadcast."""
    ph = (
        prior.select(F.md5(F.col(text_col)).alias("__h"))
        .distinct()
        .withColumn("__in_prior", F.lit(True))
    )
    cur = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("__h"))
    return cur.join(ph, "__h", "left").select(
        id_col, F.col("__in_prior").isNotNull().alias("in_prior")
    )


def snapshot_diff(
    cur: DataFrame,
    prior: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Release-to-release corpus diff — the audit report every corpus
    release ships (Dolma's changelog shape): classify every document id
    across two snapshots as ``added`` (new id), ``removed`` (id gone),
    ``changed`` (same id, different content digest) or ``unchanged``.
    Where :func:`cross_snapshot_dedup` asks "did this CONTENT exist
    before, under any id", this asks "what happened to each ID".

    Scale shape: both sides reduce to (id, 16-byte md5) before a full
    outer join on the id — text never crosses an exchange, and the join
    key is the already-unique id so there is no skew to salt. Presence
    is tracked with explicit flags (not digest nullness) so a document
    whose TEXT is NULL still classifies by its id; two NULL texts under
    the same id compare as unchanged (null-safe digest equality)."""
    c = cur.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("__hc"),
        F.lit(True).alias("__pc"),
    )
    p = prior.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("__hp"),
        F.lit(True).alias("__pp"),
    )
    status = (
        F.when(F.col("__pc").isNull(), F.lit("removed"))
        .when(F.col("__pp").isNull(), F.lit("added"))
        .when(F.col("__hc").eqNullSafe(F.col("__hp")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return c.join(p, id_col, "full_outer").select(
        id_col, status.alias("status")
    )


def snapshot_upsert(
    base: DataFrame,
    changes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """CDC MERGE into a corpus release — the lakehouse upsert an
    incremental crawl applies between releases: a change feed of
    (id, op, text, seq) rows (op = ``'upsert'`` | ``'delete'``; seq
    orders multiple changes to the same id) merges into the base
    snapshot latest-change-wins. Deleted ids emit nothing; surviving
    rows carry a ``status`` audit column (kept / updated / added).
    Where :func:`snapshot_diff` REPORTS what changed between two
    finished releases, this one PRODUCES the next release from a feed.
    Two feed rows sharing (id, seq) break the tie deterministically on
    (op, text) — the winner is the same on every rerun and on every
    engine, never an arbitrary max_by pick (seq must be >= 0; it is
    zero-padded into the lexicographic sort key).

    Scale shape: the feed first collapses to one winner per id (max_by
    on seq — one exchange of the DELTA only, map-side partial). Base
    rows then take their verdict from a broadcast LEFT join against
    that collapsed delta — an incremental release's delta is orders of
    magnitude smaller than its base, so base text never crosses an
    exchange (with id-bucketed storage the join stays exchange-free
    even when the delta outgrows broadcast). Genuinely new ids come
    from an id-presence join whose base side prunes to the id column
    alone."""
    kk = F.concat(
        F.lpad(F.col(seq_col).cast("string"), 18, "0"),
        F.lit("|"),
        F.col(op_col),
        F.lit("|"),
        F.coalesce(F.col(text_col), F.lit("")),
    )
    w = F.max_by(
        F.struct(
            F.col(op_col).alias("op"), F.col(text_col).alias("text")
        ),
        kk,
    )
    latest = changes.groupBy(id_col).agg(w.alias("__c"))
    merged = (
        base.join(F.broadcast(latest), id_col, "left")
        .filter(
            F.col("__c").isNull() | (F.col("__c.op") != F.lit("delete"))
        )
        .select(
            F.col(id_col),
            F.when(F.col("__c").isNull(), F.col(text_col))
            .otherwise(F.col("__c.text"))
            .alias(text_col),
            F.when(F.col("__c").isNull(), F.lit("kept"))
            .otherwise(F.lit("updated"))
            .alias("status"),
        )
    )
    added = (
        latest.join(
            base.select(F.col(id_col)).withColumn("__b", F.lit(True)),
            id_col,
            "left",
        )
        .filter(
            F.col("__b").isNull() & (F.col("__c.op") != F.lit("delete"))
        )
        .select(
            F.col(id_col),
            F.col("__c.text").alias(text_col),
            F.lit("added").alias("status"),
        )
    )
    return merged.unionByName(added)


def release_checksum(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Release integrity fingerprint — the tamper-/drift-evidence table
    a corpus release ships so a consumer can verify their copy without
    re-reading the content: per md5-prefix bucket (256 rows total), the
    document count and two ORDER-FREE 32-bit multiset checksums (sums
    of little-endian digest words mod 2^32). Any added, removed, or
    edited document flips its bucket's row; comparing two releases'
    fingerprints localizes WHERE they differ to 1/256 of the id space.

    Scale shape: order-free sums are the whole point — the aggregation
    is ONE exchange keyed on the 1-byte bucket with map-side partial
    combine (constant state per bucket), no sort, no collect, no
    order-dependent hash chain (a Merkle concat would need per-bucket
    sorted materialization). Sums accumulate in decimal(38,0) so no
    corpus size overflows them before the final mod."""
    from ocr_spark.operators.textops import _md5_u32

    h = F.md5(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit(":"),
            F.coalesce(F.col(text_col), F.lit("")),
        )
    )
    rows = df.select(
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bucket"),
        _md5_u32(h, 0).alias("__u1"),
        _md5_u32(h, 4).alias("__u2"),
    )
    return (
        rows.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("__u1").cast("decimal(38,0)")).alias("__s1"),
            F.sum(F.col("__u2").cast("decimal(38,0)")).alias("__s2"),
        )
        .select(
            "bucket",
            "n_docs",
            F.expr("CAST(__s1 % 4294967296 AS BIGINT)").alias("sum1"),
            F.expr("CAST(__s2 % 4294967296 AS BIGINT)").alias("sum2"),
        )
    )


def cross_snapshot_novelty(
    df: DataFrame,
    prior: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
) -> DataFrame:
    """Release novelty — per-document fraction of ``width``-token
    windows (stride 1) whose hash occurs NOWHERE in the prior release:
    the metric a corpus changelog reports as "how much genuinely new
    content does vN add", and the soft counterpart of
    :func:`cross_snapshot_dedup` (which only flags whole-document
    digests) — a re-crawl that prepends one line to every page scores
    near-zero novelty here while passing exact dedup entirely.
    Documents shorter than ``width`` tokens have no windows and score
    novelty 1.0 by convention.

    Scale shape: window hashing is a per-row transform over hoisted
    token arrays on BOTH sides; the join carries (id, 16-byte md5)
    against the prior side's DISTINCT digest set (map-side partial),
    and the per-doc count is an int agg — text never crosses an
    exchange."""
    from ocr_spark.operators.textops import _window_hash_col

    def win(d: DataFrame) -> DataFrame:
        base = d.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("__ts")
        )
        return base.select(
            F.col(id_col), _window_hash_col("__ts", width).alias("__hs")
        )

    ph = (
        win(prior)
        .select(F.explode("__hs").alias("__h"))
        .distinct()
        .withColumn("__seen", F.lit(True))
    )
    ex = win(df).select(F.col(id_col), F.explode("__hs").alias("__h"))
    counts = (
        ex.join(ph, "__h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__nw"),
            F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0)).alias(
                "__nn"
            ),
        )
    )
    # the id list for the final left join comes straight from the
    # source (ids only — column-pruned scan), NOT from win(df): reusing
    # the window frame here would re-run the whole tokenize+md5 pass a
    # second time just to enumerate ids
    j = df.select(F.col(id_col)).join(counts, id_col, "left").select(
        F.col(id_col),
        F.coalesce("__nw", F.lit(0)).cast("long").alias("n_windows"),
        F.coalesce("__nn", F.lit(0)).cast("long").alias("n_novel"),
    )
    return j.select(
        id_col,
        "n_windows",
        "n_novel",
        F.when(F.col("n_windows") == 0, F.lit(1.0))
        .otherwise(
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_windows").cast("double"),
                4,
            )
        )
        .alias("novelty"),
    )


def cross_snapshot_fuzzy(
    cur: DataFrame,
    prior: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuzzy cross-snapshot deduplication — the near-duplicate upgrade
    of :func:`cross_snapshot_dedup`: where the exact pass only catches
    byte-identical carry-overs into release vN, this flags documents
    whose MinHash-LSH bands collide with ANY document of the previous
    release — catching re-crawls that differ by a boilerplate footer,
    a timestamp, or a small edit (the dominant cross-release dup class
    in web corpora).

    Both snapshots run the same 16-hash / 4-band signature pipeline
    (:func:`minhash_signatures` + :func:`lsh_bands`), so the collision
    S-curve is the within-snapshot one (midpoint ≈ 0.7 shingle
    Jaccard). Per current document: a hit flag, the number of distinct
    prior candidates, and the smallest prior id (−1 when none).

    Scale shape: the cross-release join keys on (band_idx, band_key)
    and carries ids only — text never leaves the signature stage; the
    prior side is band-deduped the same way, and candidate counts are
    a keyed aggregation, not a window. At 100 TB both snapshots are
    huge, so this is a shuffled band join (no broadcast assumption) —
    exactly the shape of the within-snapshot LSH pass that already
    holds at scale."""
    sig_c = minhash_signatures(cur, text_col, id_col)
    sig_p = minhash_signatures(prior, text_col, id_col)
    bands_c = lsh_bands(sig_c)
    bands_p = lsh_bands(sig_p).withColumnRenamed("doc_id", "prior_id")
    pairs = (
        bands_c.join(bands_p, ["band_idx", "band_key"])
        .select("doc_id", "prior_id")
        .distinct()
    )
    agg = pairs.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("__n"),
        F.min("prior_id").alias("__m"),
    )
    base = cur.select(F.col(id_col).alias("doc_id"))
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.col("__n").isNotNull().alias("fuzzy_in_prior"),
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias(
            "n_prior_candidates"
        ),
        F.coalesce(F.col("__m"), F.lit(-1)).cast("long").alias(
            "min_prior_id"
        ),
    )


def dedup_keep_best(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-BEST near-duplicate resolution (the Dolma/FineWeb policy):
    within each verified near-duplicate cluster keep the highest-
    quality document, not the lowest id — dedup should discard the
    boilerplate-heavy copies, not whichever crawl arrived first.

    Clusters come from duplicate_clusters (LSH candidates → exact
    Jaccard verify → min-label closure); the winner is the cluster's
    argmax of the EXACT integer quality score (textops.quality_e4),
    ties by smallest doc_id; empty docs (NULL quality) rank last.

    Scale shape: the rank window carries only (cluster_id, doc_id,
    qe4) — near-dup clusters are near-cliques of a handful of docs, so
    per-cluster windows never straggle; text stays behind the digest
    joins of the cluster build."""
    from ocr_spark.operators.textops import quality_e4

    from pyspark.sql import Window

    labels = duplicate_clusters(
        df, threshold, text_col, id_col
    ).withColumnRenamed("doc_id", id_col)
    q = quality_e4(df, text_col, id_col).select(
        id_col, F.coalesce("qe4", F.lit(-1)).alias("qe4")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("qe4"), F.asc(id_col)
    )
    return (
        labels.join(q, id_col)
        .withColumn("__rn", F.row_number().over(w))
        .select(
            id_col,
            "cluster_id",
            "qe4",
            (F.col("__rn") == 1).alias("keep"),
        )
    )
