"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The query side is tiny and broadcast; the corpus side streams, dot
  products run JVM-side via zip_with/aggregate in double precision
  (sequential left-to-right fold — bit-identical to a naive loop, which is
  what the DuckDB oracle computes). Ranking ties break on neighbor id.
- ``lsh_bucketed_topk``: the scale path — random-hyperplane (SimHash-style)
  sign buckets from deterministic md5-derived planes; candidates = bucket
  collisions only, then exact rerank. At 100 TB the bucket join replaces
  the all-pairs cross product; the bucket key is a short int, so the
  shuffle moves ids+keys, not vectors.
- ``ivf_topk``: the trained scale path — IVF (inverted-file) with a
  spherical k-means coarse quantizer, FAISS-style: train centroids on a
  bounded deterministic sample, assign every corpus vector to its nearest
  centroid cell, probe the ``nprobe`` nearest cells per query, exact
  rerank inside the probed cells only.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.window import Window

from ocr_spark.operators.runs import ordered_list
from ocr_spark.worker import python_stage


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v)"
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: (q_id, neighbor_id, rank, cosine_r).

    queries is expected to be small → broadcast nested-loop join; corpus
    scan is a single pass, ranking via a per-query window. cosine rounded
    to 4 decimals (stable across engines at double precision).
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .withColumn("cosine_r", F.round(with_cosine_expr("q_vec", "c_vec"), 4))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_r").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cosine_r")
    )


def with_cosine_expr(a: str, b: str):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _plane(plane_idx: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component in [-1, 1): derived
    from md5, so any engine (or the oracle) can regenerate it."""
    out = []
    for d in range(dim):
        h = int.from_bytes(
            hashlib.md5(f"plane:{plane_idx}:{d}".encode()).digest()[:8], "little"
        )
        out.append(h / float(1 << 63) - 1.0)
    return out


def _table_code(vec_col: str, table_idx: int, num_planes: int, dim: int):
    """Sign-bit code of one hash table: num_planes fixed hyperplanes."""
    code = F.lit(0).cast("long")
    for p in range(num_planes):
        plane = _plane(table_idx * num_planes + p, dim)
        arr = "array(" + ",".join(f"cast({x!r} as double)" for x in plane) + ")"
        dot = F.expr(
            f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> cast(x as double) * y),"
            f" cast(0.0 as double), (acc, v) -> acc + v)"
        )
        code = code + F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
    return code


def hyperplane_buckets(
    df: DataFrame,
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table_idx, bucket) — one sign-bit code per hash table.

    Multiple independent tables are what make hyperplane LSH usable: a
    single b-plane table finds a cosine-c neighbor with probability
    (1-θ/π)^b (≈2.5% for c≈0.4, b=8); L tables of b planes lift that to
    1-(1-(1-θ/π)^b)^L (≈80% for b=4, L=8) — same banding trick as the
    MinHash LSH in dedup.py. Planes are md5-derived literals in the plan;
    all dot products JVM-side."""
    codes = F.array(
        *[_table_code(vec_col, t, num_planes, dim) for t in range(num_tables)]
    )
    return df.select(
        F.col(id_col).alias("vec_id"), F.posexplode(codes).alias("table_idx", "bucket")
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates collide with the query in ANY hash
    table, then exact rerank. Recall < 1 by construction; the exact scan
    (cosine_topk) is the quality oracle, not an equality target.

    Scale shape: the bucket join moves only (id, table_idx, bucket) —
    never vectors; candidate ids are distinct-ed and vectors re-attached
    by id afterwards, so the heavy columns cross the wire once per
    SURVIVING candidate, not once per bucket collision."""
    cb = hyperplane_buckets(corpus, num_planes, num_tables, dim, id_col, vec_col)
    qb = hyperplane_buckets(queries, num_planes, num_tables, dim, id_col, vec_col).select(
        F.col("vec_id").alias("q_id"), "table_idx", "bucket"
    )
    cand = (
        cb.join(F.broadcast(qb), ["table_idx", "bucket"], "inner")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    scored = (
        cand.join(
            corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")),
            "vec_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
                )
            ),
            "q_id",
        )
        .withColumn("cosine_r", F.round(with_cosine_expr("q_vec", "c_vec"), 4))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_r").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "rank", "cosine_r")
    )


def _normalize_rows(x: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(x, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return x / n


def ivf_train_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    sample_n: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means coarse quantizer, trained on a bounded sample.

    The sample is the ``sample_n`` vectors with the smallest
    ``md5(cast(id))`` — deterministic under any partitioning, and bounded:
    the driver collects ``sample_n`` rows regardless of corpus size, which
    is exactly how FAISS trains IVF quantizers at scale (train on ~1e5-1e6
    sampled vectors, never the full corpus). Init = first ``nlist`` sample
    rows in md5 order; Lloyd iterations run in numpy (argmax of X @ C.T,
    unit-renormalized means; an emptied cell keeps its previous centroid).
    Returns a (nlist, dim) float64 matrix of unit rows ROUNDED to 6
    decimals after every iteration: the quantization pins the trained
    centroids to values any engine reproduces exactly (summation-order
    float noise is ~1e-16, far below the 1e-6 grid), which is what lets
    the DuckDB oracle replay the whole training loop in SQL.
    """
    pdf = (
        corpus.select(F.col(id_col).cast("string").alias("h_id"), F.col(vec_col).alias("v"))
        .withColumn("h", F.md5(F.col("h_id")))
        .orderBy("h", "h_id")
        .limit(sample_n)
        .toPandas()
    )
    x = _normalize_rows(np.array(pdf["v"].tolist(), dtype=np.float64))
    if len(x) < nlist:
        raise ValueError(
            f"ivf_train_centroids: training sample has {len(x)} vectors but "
            f"nlist={nlist} cells need at least that many — lower nlist or "
            "raise sample_n/corpus size"
        )
    cents = np.round(x[:nlist], 6)
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(nlist):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cents = np.round(_normalize_rows(cents), 6)
    return cents


def _cell_assign_udf(centroids: np.ndarray):
    """Series->Series pandas UDF: vector -> nearest-centroid cell id.

    One Arrow batch becomes one (batch, dim) @ (dim, nlist) matrix product
    — the Pandas-UDF matrix path beats per-element SQL expressions here
    because nlist is thousands at real scale (a literal-expression argmax
    like the LSH planes would blow up the plan). Cosine argmax needs only
    the dot against unit centroids (the row norm is constant per row).
    """
    ct = centroids.T.copy()

    @pandas_udf("int")
    @python_stage
    def assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        x = np.array(v.tolist(), dtype=np.float64)
        return pd.Series(np.argmax(x @ ct, axis=1).astype(np.int32))

    return assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nlist: int = 16,
    nprobe: int = 4,
    sample_n: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer: (q_id, neighbor_id,
    rank, cosine_r). Recall < 1 by construction (neighbors outside the
    probed cells are missed) — ``cosine_topk`` is the quality oracle.

    Scale shape: corpus-side cell assignment is map-side (one pandas-UDF
    projection, no shuffle); the tiny (q_id, cell) probe list — nprobe
    rows per query — is broadcast, so the candidate join never shuffles
    the corpus. Only the surviving ~nprobe/nlist fraction of rows reaches
    the per-query rerank window. Centroids ride to executors inside the
    UDF closure (nlist*dim floats — KBs for thousands of cells).

    Pass ``centroids`` (from ``ivf_train_centroids``) to reuse a trained
    quantizer across query batches — in production the quantizer is
    trained once per corpus snapshot and its two driver-side collects
    (sample + probe ranking) amortize to zero; the brute-force
    ``cosine_topk`` stays cheaper only while corpus × queries is small.
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_train_centroids(corpus, nlist, sample_n, iters, id_col, vec_col)
    )
    assign = _cell_assign_udf(cents)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("cell", assign("c_vec"))

    # query probe list: nprobe nearest cells per query, computed driver-side
    # (queries are small by contract — same assumption as cosine_topk's
    # broadcast) and re-broadcast as a literal frame.
    qpdf = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).toPandas()
    qx = _normalize_rows(np.array(qpdf["q_vec"].tolist(), dtype=np.float64))
    order = np.argsort(-(qx @ cents.T), axis=1, kind="stable")[:, :nprobe]
    spark = corpus.sparkSession
    probe = spark.createDataFrame(
        [
            (qid, int(cell))
            for qid, cells in zip(qpdf["q_id"].tolist(), order)
            for cell in cells
        ],
        schema=f"q_id {dict(queries.dtypes)[id_col]}, cell int",
    )

    scored = (
        c.join(F.broadcast(probe), "cell")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .join(
            F.broadcast(
                queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
            ),
            "q_id",
        )
        .withColumn("cosine_r", F.round(with_cosine_expr("q_vec", "c_vec"), 4))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_r").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cosine_r")
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector scalar int8-style quantization (the memory lever for
    100-TB ANN: 4 bytes/dim float32 → 1 byte/dim + 2 floats): code =
    round((x - min) / (max - min) * 255). Emitted in long form
    (vec_id, dim_idx, code) — JVM-side transform + posexplode, no Python.
    Constant vectors (range 0) quantize to all-zero codes. The min/max
    are hoisted into columns BEFORE the transform: Spark re-evaluates a
    higher-order-function lambda body per element, so an inline
    array_min/array_max would make quantization O(dim²) per vector."""
    pre = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("__v"),
        F.array_min(F.col(vec_col)).cast("double").alias("__lo"),
        F.array_max(F.col(vec_col)).cast("double").alias("__hi"),
    )
    codes = F.expr(
        "transform(__v, x -> cast(round((cast(x as double) - __lo)"
        " / (__hi - __lo) * 255, 0) as int))"
    )
    safe = F.when(F.col("__hi") > F.col("__lo"), codes).otherwise(
        F.expr("transform(__v, x -> 0)")
    )
    return pre.select(
        "vec_id", F.posexplode(safe).alias("dim_idx", "code")
    )


# ---------------------------------------------------------------------------
# product quantization (IVF-PQ re-rank)
# ---------------------------------------------------------------------------


def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    sample_n: int = 512,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Product-quantization codebooks: the vector splits into ``m``
    contiguous subvectors; each subspace trains its own ``ksub``-entry
    VQ codebook by Lloyd iterations on the SAME bounded md5-ordered
    sample the IVF coarse quantizer uses (deterministic under any
    partitioning). Returns (m, ksub, dsub) float64.

    Replayability contract (what lets the DuckDB oracle rerun training
    in SQL): centroids round to 6 decimals after init and after every
    update; assignment distance is the expanded form
    ``round(x·x - 2·x·c + c·c, 6)`` with ties to the lowest cell —
    identical expressions on both engines, so the float noise between
    summation orders (~1e-16) dies against the 1e-6 grid.
    """
    pdf = (
        corpus.select(
            F.col(id_col).cast("string").alias("h_id"), F.col(vec_col).alias("v")
        )
        .withColumn("h", F.md5(F.col("h_id")))
        .orderBy("h", "h_id")
        .limit(sample_n)
        .toPandas()
    )
    x = np.array(pdf["v"].tolist(), dtype=np.float64)
    if len(x) < ksub:
        raise ValueError(
            f"pq_train_codebooks: training sample has {len(x)} vectors but "
            f"ksub={ksub} codebook entries need at least that many — lower "
            "ksub or raise sample_n/corpus size"
        )
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"pq_train_codebooks: dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.zeros((m, ksub, dsub))
    for mi in range(m):
        xs = x[:, mi * dsub : (mi + 1) * dsub]
        cents = np.round(xs[:ksub], 6)
        for _ in range(iters):
            assign = _pq_assign(xs, cents)
            for cell in range(ksub):
                members = xs[assign == cell]
                if len(members):
                    cents[cell] = members.mean(axis=0)
            cents = np.round(cents, 6)
        books[mi] = cents
    return books


def _pq_assign(xs: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """argmin cell per row of the ROUNDED expanded squared distance
    (ties → lowest cell, np.argmin's first-hit) — the exact expression
    the SQL oracle evaluates."""
    xx = np.einsum("ij,ij->i", xs, xs)
    cc = np.einsum("ij,ij->i", cents, cents)
    d2 = np.round(xx[:, None] - 2.0 * (xs @ cents.T) + cc[None, :], 6)
    return np.argmin(d2, axis=1)


def pq_encode_with_cells(
    corpus: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One map-side pass over the corpus → (neighbor_id, cell, codes
    array<int>, vnorm double): IVF cell (argmax dot against the coarse
    centroids, ties → lowest cell — same rule as ivf_topk), PQ code per
    subspace, and the exact vector norm (1 float/vector, the standard
    PQ sidecar that keeps cosine exact in the denominator). No shuffle;
    vectors never leave this stage."""
    from pyspark.sql import types as T

    m, ksub, dsub = codebooks.shape
    ct = centroids.T.copy()
    books = codebooks.copy()

    @python_stage
    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cells = np.argmax(x @ ct, axis=1).astype(np.int32)
            codes = np.zeros((len(x), m), dtype=np.int32)
            for mi in range(m):
                xs = x[:, mi * dsub : (mi + 1) * dsub]
                codes[:, mi] = _pq_assign(xs, books[mi])
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col],
                    "cell": cells,
                    "codes": list(codes),
                    "vnorm": np.sqrt(np.einsum("ij,ij->i", x, x)),
                }
            )

    schema = T.StructType(
        [
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
            T.StructField("vnorm", T.DoubleType()),
        ]
    )
    return corpus.select(id_col, vec_col).mapInPandas(fn, schema)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    rerank: int | None = None,
    sample_n: int = 2048,
    pq_sample_n: int = 512,
    iters: int = 10,
    pq_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
    codebooks: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF + product-quantization re-rank (FAISS IVFPQ shape):
    coarse-probe the ``nprobe`` nearest cells, score EVERY candidate in
    them by the asymmetric-distance PQ approximation (codes + the
    per-query lookup table — no candidate vector is touched), keep only
    the top ``rerank`` (default 4k) per query, and run the exact cosine
    on those survivors. Output schema matches cosine_topk/ivf_topk.

    Scale shape: candidates carry (cell, m bytes of codes, 1 norm) —
    at dim=64, m=8 that is ~12 bytes instead of 256+ for the raw
    vector, so the probe join and the PQ window shuffle ~20× less than
    ivf_topk's rerank; the full vectors re-attach only for the
    ``rerank·|queries|`` survivors. The LUT rides in the UDF closure
    (|queries|·m·ksub doubles — KBs)."""
    R = rerank if rerank is not None else 4 * k
    cents = (
        centroids
        if centroids is not None
        else ivf_train_centroids(corpus, nlist, sample_n, iters, id_col, vec_col)
    )
    books = (
        codebooks
        if codebooks is not None
        else pq_train_codebooks(corpus, m, ksub, pq_sample_n, pq_iters, id_col, vec_col)
    )
    mq, ksq, dsub = books.shape

    enc = pq_encode_with_cells(corpus, cents, books, id_col, vec_col)

    qpdf = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).toPandas()
    qx_raw = np.array(qpdf["q_vec"].tolist(), dtype=np.float64)
    qnorms = np.sqrt(np.einsum("ij,ij->i", qx_raw, qx_raw))
    # probe list: same rule as ivf_topk (normalized query vs unit centroids)
    qxn = _normalize_rows(qx_raw.copy())
    order = np.argsort(-(qxn @ cents.T), axis=1, kind="stable")[:, :nprobe]
    spark = corpus.sparkSession
    probe = spark.createDataFrame(
        [
            (qid, int(cell))
            for qid, cells in zip(qpdf["q_id"].tolist(), order)
            for cell in cells
        ],
        schema=f"q_id {dict(queries.dtypes)[id_col]}, cell int",
    )
    qn = spark.createDataFrame(
        [(qid, float(n)) for qid, n in zip(qpdf["q_id"].tolist(), qnorms)],
        schema=f"q_id {dict(queries.dtypes)[id_col]}, qnorm double",
    )
    # per-query ADC lookup table: LUT[q][mi, code] = q_sub · codebook entry
    luts = {
        qid: np.stack(
            [qx_raw[i, mi * dsub : (mi + 1) * dsub] @ books[mi].T for mi in range(mq)]
        )
        for i, qid in enumerate(qpdf["q_id"].tolist())
    }

    @pandas_udf("double")
    @python_stage
    def adc_dot(q_id: pd.Series, codes: pd.Series) -> pd.Series:
        # vectorized per DISTINCT query in the batch (queries are few by
        # contract): one fancy-indexed LUT gather + row-sum per group —
        # no per-candidate Python
        if len(q_id) == 0:
            return pd.Series([], dtype="float64")
        codes_mat = np.vstack(codes.to_numpy()).astype(np.int64)  # (n, m)
        qarr = q_id.to_numpy()
        out = np.zeros(len(qarr))
        rng = np.arange(mq)
        for qid in np.unique(qarr):
            mask = qarr == qid
            out[mask] = luts[qid][rng[None, :], codes_mat[mask]].sum(axis=1)
        return pd.Series(out)

    cand = (
        enc.join(F.broadcast(probe), "cell")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .join(F.broadcast(qn), "q_id")
        .withColumn(
            "pq_cos",
            F.when(
                (F.col("vnorm") > 0) & (F.col("qnorm") > 0),
                F.round(
                    adc_dot("q_id", "codes") / (F.col("qnorm") * F.col("vnorm")), 4
                ),
            ).otherwise(F.lit(0.0)),
        )
    )
    wpq = Window.partitionBy("q_id").orderBy(
        F.col("pq_cos").desc(), F.col("neighbor_id").asc()
    )
    survivors = (
        cand.withColumn("pq_rank", F.row_number().over(wpq))
        .filter(F.col("pq_rank") <= R)
        .select("q_id", "neighbor_id")
    )
    scored = (
        survivors.join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
                )
            ),
            "q_id",
        )
        .withColumn("cosine_r", F.round(with_cosine_expr("q_vec", "c_vec"), 4))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_r").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cosine_r")
    )


def embedding_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-group embedding outlier score — the corpus-quality screen
    that catches mislabeled / off-topic documents before training: each
    vector's cosine to its own group's centroid DIRECTION (the centroid
    includes the vector itself; a low or negative cosine flags the
    vector as an outlier for its group).

    Cross-engine exactness: vectors quantize to integer micro-units
    (floor(x·1e6 + 0.5) — floor, not round, so Spark and DuckDB agree
    on every value), the centroid direction is the per-dimension SUM
    (the 1/n cancels in cosine, so no division ever happens on the
    aggregate), and dot/norms accumulate in decimal(38,0) ≡ HUGEINT —
    order-free integer sums. Only the final cosine touches doubles:
    one cast, two sqrt, one divide, round(4) — bit-identical IEEE on
    both engines.

    Scale shape: the per-dimension sum shuffles (label, dim, int64)
    only — never vectors; the centroid table is |labels|·1 rows and
    BROADCASTS back, so the corpus side never exchanges. At 100 TB this
    is one map-side-combined agg + one broadcast join."""
    vm = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(1_000_000.0) + F.lit(0.5)),
    )
    base = df.select(F.col(id_col), F.col(label_col), vm.alias("__v"))
    sums = (
        base.select(label_col, F.posexplode("__v").alias("__d", "__x"))
        .groupBy(label_col, "__d")
        .agg(F.sum("__x").alias("__s"))
    )
    cent = sums.groupBy(label_col).agg(
        ordered_list("__d", "__s").alias("__c")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    zero = F.lit(0).cast("decimal(38,0)")
    dot = F.aggregate(
        F.zip_with("__v", "__c", lambda a, b: dec(a) * dec(b)),
        zero,
        lambda acc, x: acc + x,
    )
    nv = F.aggregate(
        F.transform("__v", lambda a: dec(a) * dec(a)), zero, lambda acc, x: acc + x
    )
    nc = F.aggregate(
        F.transform("__c", lambda a: dec(a) * dec(a)), zero, lambda acc, x: acc + x
    )
    cos = F.when((nv == zero) | (nc == zero), F.lit(0.0)).otherwise(
        F.round(
            dot.cast("double") / (F.sqrt(nv.cast("double")) * F.sqrt(nc.cast("double"))),
            4,
        )
    )
    return (
        base.join(F.broadcast(cent), label_col)
        .withColumn("cos_centroid", cos)
        .select(
            id_col,
            label_col,
            "cos_centroid",
            (F.col("cos_centroid") < 0.0).alias("is_outlier"),
        )
    )


#: Reciprocal-rank-fusion contract (Cormack, Clarke & Buettcher,
#: SIGIR 2009): score = Σ_legs 1/(k0 + rank) with the standard
#: k0 = 60, carried in exact nano-units so fused scores are integers.
RRF_K0 = 60
RRF_NANO = 1_000_000_000


def rrf_fuse(
    legs: "list[tuple[str, DataFrame]]",
    k: int = 10,
    k0: int = RRF_K0,
    query_col: str = "query_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of named ranked lists — the hybrid-
    retrieval combiner (a BM25 lexical leg + an embedding dense leg is
    the standard RAG shape).  Each leg holds (query, doc, rank) rows;
    a doc absent from a leg simply contributes nothing.  Per-leg
    contribution is ``RRF_NANO DIV (k0 + rank)`` — integer division of
    integers, bit-exact across engines — and the fused total order is
    (score desc, doc id asc).  Output keeps each leg's rank as
    ``<name>_rank`` (NULL where the leg missed the doc).

    Scale shape: every leg is already a per-query top-k, so the union
    shuffles bounded (query, doc, rank) triples only and the fused
    window sorts ≤ legs·k rows per query — partition count grows with
    the query set, never the corpus."""
    from functools import reduce

    parts = [
        df.select(
            F.col(query_col),
            F.col(id_col),
            F.col("rank").cast("int").alias("rank"),
            F.lit(i).alias("__leg"),
        )
        for i, (_, df) in enumerate(legs)
    ]
    u = reduce(DataFrame.unionByName, parts)
    contrib = F.expr(f"CAST({RRF_NANO} DIV ({k0} + rank) AS BIGINT)")
    aggs = [F.sum(contrib).alias("rrf_nano")]
    for i, (name, _) in enumerate(legs):
        aggs.append(
            F.max(F.when(F.col("__leg") == i, F.col("rank")))
            .cast("int")
            .alias(f"{name}_rank")
        )
    fused = u.groupBy(query_col, id_col).agg(*aggs)
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_nano"), F.asc(id_col)
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("fused_rank") <= k)
        .select(
            query_col,
            id_col,
            "rrf_nano",
            *[f"{name}_rank" for name, _ in legs],
            "fused_rank",
        )
    )


def bitext_mine(
    src_queries: DataFrame,
    src_corpus: DataFrame,
    tgt_corpus: DataFrame,
    k: int = 4,
    margin_e4_min: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk, ACL 2019; the
    LASER / CCMatrix criterion): for each source sentence embedding,
    take its nearest target neighbor and score the pair by the MARGIN —
    the pair cosine divided by the average of both endpoints' k-NN
    neighborhoods — so a sentence that is merely "close to everything"
    (a hub) scores low while a genuinely translated pair, whose cosine
    stands out from both neighborhoods, scores high.  This is the miner
    that builds parallel corpora for multilingual training.

        margin(x, y) = cos(x, y) / ( (Σ NN_k(x) + Σ NN_k(y)) / 2k )

    Neighborhoods include the matched pair itself (the paper's "ratio"
    variant), so margins land near 1.0 and ``margin_e4_min=10_000``
    keeps exactly the pairs that beat their own neighborhood average.

    Exact integer contract: each cosine is quantized ONCE to e4 units
    (``round(cos·1e4)`` — one rounding of one double, the only float
    step), neighborhood sums are integer sums of those e4 values, and
    the margin is ``cos_e4 · 2k·1e4 DIV (Σfwd_e4 + Σbwd_e4)`` — BIGINT
    DIV ≡ DuckDB ``//`` on positive operands, so ranks, sums and
    margins can never float-diverge between engines.  Rows with a
    non-positive pair cosine or neighborhood sum are dropped (margin
    is meaningless there and DIV's negative semantics differ).

    Scale shape: the probe set broadcasts against the target corpus
    (same bounded-probe pattern as cosine_topk); only (id, id, int64)
    triples cross the two ranking exchanges — vectors never shuffle.
    The backward leg scores ≤|probes| candidate vectors against the
    source corpus, again broadcast.  At 100 TB the probe set comes from
    the IVF/LSH candidate generation already in this module; the margin
    math is unchanged."""
    cos_e4 = F.round(with_cosine_expr("q_vec", "t_vec") * 10_000, 0).cast("long")
    q = src_queries.select(
        F.col(id_col).alias("src_id"), F.col(vec_col).alias("q_vec")
    )
    t = tgt_corpus.select(
        F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("t_vec")
    )
    fwd = (
        t.crossJoin(F.broadcast(q))
        .withColumn("cos_e4", cos_e4)
        .select("src_id", "tgt_id", "cos_e4")
    )
    wf = Window.partitionBy("src_id").orderBy(F.desc("cos_e4"), F.asc("tgt_id"))
    fa = (
        fwd.withColumn("__rn", F.row_number().over(wf))
        .filter(F.col("__rn") <= k)
        .groupBy("src_id")
        .agg(
            F.max(
                F.when(F.col("__rn") == 1, F.struct("tgt_id", "cos_e4"))
            ).alias("__best"),
            F.sum("cos_e4").alias("sum_fwd_e4"),
        )
        .select(
            "src_id",
            F.col("__best.tgt_id").alias("tgt_id"),
            F.col("__best.cos_e4").alias("cos_e4"),
            "sum_fwd_e4",
        )
    )
    cand = t.join(F.broadcast(fa.select("tgt_id").distinct()), "tgt_id")
    s = src_corpus.select(
        F.col(id_col).alias("src_nb"), F.col(vec_col).alias("q_vec")
    )
    bwd_cos = F.round(with_cosine_expr("t_vec", "q_vec") * 10_000, 0).cast("long")
    bwd = (
        s.crossJoin(F.broadcast(cand))
        .withColumn("cos_e4", bwd_cos)
        .select("tgt_id", "src_nb", "cos_e4")
    )
    wb = Window.partitionBy("tgt_id").orderBy(F.desc("cos_e4"), F.asc("src_nb"))
    ba = (
        bwd.withColumn("__rn", F.row_number().over(wb))
        .filter(F.col("__rn") <= k)
        .groupBy("tgt_id")
        .agg(F.sum("cos_e4").alias("sum_bwd_e4"))
    )
    return (
        fa.join(F.broadcast(ba), "tgt_id")
        .filter(
            (F.col("cos_e4") > 0)
            & (F.col("sum_fwd_e4") + F.col("sum_bwd_e4") > 0)
        )
        .withColumn(
            "margin_e4",
            F.expr(
                f"CAST(cos_e4 * {2 * k * 10_000}"
                " DIV (sum_fwd_e4 + sum_bwd_e4) AS BIGINT)"
            ),
        )
        .select(
            "src_id",
            "tgt_id",
            "cos_e4",
            "margin_e4",
            (F.col("margin_e4") >= F.lit(margin_e4_min)).alias("accepted"),
        )
    )


def mmr_rerank(
    cand: DataFrame,
    k: int = 5,
    k_in: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    tok_col: str = "toks",
) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell &
    Goldstein, SIGIR 1998) of a per-query top-``k_in`` candidate list:
    greedily select ``k`` documents maximizing relevance minus
    redundancy against what's already selected — the de-duplicating
    re-rank a RAG stack runs after retrieval so the context window
    isn't spent on near-identical passages.

    Exact integer contract: relevance is rank-based,
    ``rel = 1e9·(k_in+1−rank) DIV k_in``; redundancy is token-set
    Jaccard in nano-units (``1e9·inter // union`` in unbounded Python
    ints); the λ=1/2 selection score is kept doubled (``rel −
    max_sim``) so it stays an integer, and every argmax tie breaks on
    doc id.  The first pick is pure relevance (empty selected set).

    Scale shape: ONE exchange — the groupBy on the query id — then the
    whole greedy loop runs inside a single Arrow-batched grouped map.
    Candidate sets are ``k_in``-bounded per query, so each group is at
    most k_in rows and the in-batch pairwise Jaccard is ≤ k_in² set
    intersections; work grows with the query set, never the corpus.
    (An earlier version UNROLLED the k iterations into the plan — 4
    extra join+window shuffle rounds whose fixed stage overhead
    dominated at any scale; the grouped map replaces them with zero
    additional exchanges and identical integer semantics, pinned by
    the same contract value-hash.)"""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    base = cand.select(
        F.col(query_col).alias("q"),
        F.col(id_col).alias("d"),
        F.expr(
            f"CAST(CAST(1000000000 AS BIGINT) * ({k_in} + 1 - rank)"
            f" DIV {k_in} AS BIGINT)"
        ).alias("rel"),
        F.array_distinct(F.col(tok_col)).alias("t"),
    )
    out_schema = StructType(
        [
            StructField(query_col, base.schema["q"].dataType),
            StructField(id_col, base.schema["d"].dataType),
            StructField("mmr_rank", IntegerType()),
            StructField("rel_nano", LongType()),
            StructField("max_sim_nano", LongType()),
            StructField("mmr_score_nano", LongType()),
        ]
    )

    @python_stage
    def greedy(pdf):
        import pandas as pd

        # NULL token arrays degrade to empty sets (the plan-based
        # predecessor tolerated them via array_intersect-on-NULL);
        # duplicate (q, d) rows collapse DETERMINISTICALLY to the
        # highest-relevance copy, ties by sorted token tuple — never
        # by Arrow batch row order
        cands = [
            (
                row.d,
                int(row.rel),
                frozenset(row.t if row.t is not None else ()),
            )
            for row in pdf.itertuples()
        ]
        ms = {d: 0 for d, _, _ in cands}
        remaining = {}
        for d, rel, t in cands:
            prev = remaining.get(d)
            if prev is None or (rel, sorted(t)) > (prev[0], sorted(prev[1])):
                remaining[d] = (rel, t)
        rows = []
        q = pdf["q"].iloc[0]
        for rank_i in range(1, k + 1):
            if not remaining:
                break
            best_d = min(
                remaining, key=lambda d: (-(remaining[d][0] - ms[d]), d)
            )
            rel, bt = remaining.pop(best_d)
            rows.append(
                (q, best_d, rank_i, rel, ms[best_d], rel - ms[best_d])
            )
            for d2, (_, t2) in remaining.items():
                inter = len(bt & t2)
                union = len(bt) + len(t2) - inter
                s = 0 if union == 0 else 10**9 * inter // union
                if s > ms[d2]:
                    ms[d2] = s
        return pd.DataFrame(
            rows,
            columns=[
                query_col,
                id_col,
                "mmr_rank",
                "rel_nano",
                "max_sim_nano",
                "mmr_score_nano",
            ],
        )

    return base.groupBy("q").applyInPandas(greedy, out_schema)
