"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: synthesize transcript turns from the sf0.001
``documents`` table (HTML-wrapped payloads), run the full salted
mapInArrow extraction pipeline stage, return the extracted turns.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data operators (dedup, similarity search,
text analysis, multimodal plumbing). Each query is one record: a
module-level query function decorated with ``@_query(oracle)``, its DuckDB
oracle, and, where the query injects a fixture into the corpus, the SQL of
that injection, which the function runs through ``selectExpr``/``F.expr``
and the oracle inlines. EVERY key has an oracle: even the approximate
operators are deterministic constructions (md5-derived hyperplanes,
quantized k-means, HUGEINT simhash) that SQL replays exactly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark import sources as src
from ocr_spark.operators import (
    agenttrace,
    bpe,
    dedup,
    graph,
    multimodal,
    relational,
    similarity,
    textops,
    transcript,
)
from ocr_spark.operators import extraction_queries as xq
from ocr_spark.worker import python_stage


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


#: constant duplicate payload for the bloom_dedup contract query —
#: injected verbatim in BOTH engines, so the id families sharing it are
#: true duplicates the filter must flag.
_BLOOM_DUP_TEXT = "mirrored boilerplate passage served on every host"

#: running-header line worn by every synthesized page in the
#: strip_page_furniture contract query (digit-free, so its #-mask is
#: itself; quote-free so it embeds in the oracle literal verbatim).
_FURNITURE_HEADER = "ACME QUARTERLY REVIEW"

#: perturbed-tail text for the conversation_near_dup injector — the one
#: edited turn that breaks exact dedup but keeps the shingle overlap.
_NEAR_DUP_TAIL_TEXT = "perturbed tail turn"

#: perturbed-head text for the conversation_clusters second clone
#: family — a head-edited sibling so components have triangles.
_NEAR_DUP_HEAD_TEXT = "perturbed head turn"

#: verbatim agent-retry turn injected into the transcript synthesis —
#: shared with the oracles (quote-free so it embeds in SQL literals).
_TURNS_RETRY_TEXT = "tool timeout retrying identical call"
#: blank turn text made only of non-ASCII space separators (U+00A0,
#: U+3000): Spark's trim keeps them and DuckDB's strips them, so the
#: queries whose fixtures carry it replay green only while both engines
#: share one definition of blank
_NBSP_BLANK = "\u00a0\u3000"


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, repartitioned to the session's full parallelism before
    CPU-bound per-document Python work.

    The test-SF corpus is ONE parquet split (~600 KB at sf0.1), but each
    document carries milliseconds-to-seconds of codec work (build + parse
    a real PDF container, AES/RC4, JPEG decode) — the classic
    small-input / large-compute shape where the scan's split count, not
    the cluster, would otherwise cap parallelism (measured: the encrypted
    -PDF query ran 56 s on one core of 32 before this). The round-robin
    exchange moves only (doc_id, text) once and is noise next to the
    kernels; at 100 TB the scan already yields thousands of splits and
    the same repartition merely rebalances skewed splits."""
    return _docs(spark, sf_dir).repartition(spark.sparkContext.defaultParallelism)


def _sql_str(s: str) -> str:
    """``s`` as a SQL string expression both engines read the same: quotes
    doubled, each newline spliced in as chr(10) (Spark reads a backslash in
    a literal as an escape, DuckDB reads it verbatim, so there must be
    none)."""
    assert "\\" not in s, s
    parts = ("'" + p.replace("'", "''") + "'" for p in s.split("\n"))
    return " || chr(10) || ".join(parts)


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _payloads(df: DataFrame, encode: Callable[..., bytes]) -> DataFrame:
    """(vec_id, ...) integer columns → (vec_id, payload) with payload =
    ``encode(vec_id, ...)``: the multimodal fixtures' synthetic files,
    built in one Arrow-batched mapInPandas pass."""

    @python_stage
    def build(it):
        import pandas as pd

        for pdf in it:
            rows = zip(*(pdf[c] for c in pdf.columns))
            payloads = [encode(*map(int, r)) for r in rows]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "payload": payloads})

    return df.mapInPandas(build, "vec_id long, payload binary")


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents → transcript turns → salted repartition → fused
    mapInArrow extraction (HTML boilerplate strip) → extracted turns."""
    from ocr_spark.operators.extraction_queries import _HTML_POST, _HTML_PRE
    from ocr_spark.pipeline import extract_stage

    docs = _docs(spark, "/root/testdata/sf0.001")
    n_convs = 40
    transcripts = docs.select(
        F.format_string("conv_%06d", (F.col("doc_id") % n_convs)).alias("conv_id"),
        (F.col("doc_id") / n_convs).cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST)).alias("text"),
        F.lit("html").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )
    extracted = extract_stage(transcripts, num_parts=32, turn_bucket=64)
    return extracted.filter(F.col("rec") == "data").select(
        "conv_id", "turn_idx", "extracted_text", "n_rows", "n_cols", "status"
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

#: dup_span_detect injection blocks — exactly 20 words each (one full
#: detection window), shared verbatim with the oracle SQL.
_SPAN_BLOCK_A = (
    "the quick brown fox jumps over the lazy dog while seven wise"
    " wizards brew potions beneath ancient oak trees tonight"
)
_SPAN_BLOCK_B = (
    "every large training corpus repeats boilerplate passages verbatim"
    " across many pages and pipelines must detect these spans quickly"
    " at scale"
)
assert len(_SPAN_BLOCK_A.split(" ")) == 20 and len(_SPAN_BLOCK_B.split(" ")) == 20

# shared payload for cdc_chunk_dedup's duplicate injection — long
# enough for several content-defined boundaries
_CDC_SHARED_TEXT = _SPAN_BLOCK_A + " " + _SPAN_BLOCK_B + " " + _SPAN_BLOCK_A
#: dup_span_detect / substring_dedup_cut's duplicated spans: docs doc_id%6
#: in (0,1) are prepended block A, doc_id%6==2 block B; prepending keeps
#: the injected window aligned to the stride grid (windows start at
#: token 1), so the block IS a shared span across its class
_SPAN_TEXT = (
    f"CASE WHEN doc_id % 6 IN (0, 1) THEN '{_SPAN_BLOCK_A} ' || text"
    f" WHEN doc_id % 6 = 2 THEN '{_SPAN_BLOCK_B} ' || text ELSE text END"
)

#: gopher_rules numeric-injection block (doc_id%7==4): ≥50 words but
#: mostly digit tokens, so the alphabetic-word and mean-word-length
#: rules fail while the word-count rule passes. Shared with the oracle.
_GOPHER_NUM_BLOCK = (
    " ".join(str(i) for i in range(100, 155)) + " the a of and to in is"
)

#: bm25_topk query set — fixed contract, shared verbatim with the
#: oracle (terms drawn from the synthetic corpus vocabulary).
_BM25_QUERIES = (
    "fast table scan",
    "window order line",
    "customer query value",
)
_BM25_QTERMS = sorted(
    {(qi, t) for qi, q in enumerate(_BM25_QUERIES) for t in q.split(" ")}
)
_BM25_VALUES = ", ".join(f"({qi}, '{t}')" for qi, t in _BM25_QTERMS)
_BM25_TERMS_IN = ", ".join(f"'{t}'" for t in sorted({t for _, t in _BM25_QTERMS}))

#: BM25 oracle CTE chain ending in lex(query_id, doc_id, rank,
#: score_micro) — top-10 per query under (score desc, doc_id asc);
#: shared by the bm25_topk oracle and the hybrid_rrf lexical leg.
_BM25_LEX_CTE = (
    "toks AS MATERIALIZED (SELECT doc_id,"
    "  string_split(text, ' ') AS ts FROM documents),"
    " st AS MATERIALIZED (SELECT COUNT(*) AS n,"
    "  CAST(SUM(len(ts)) AS BIGINT) AS s FROM toks),"
    f" qt AS (SELECT * FROM (VALUES {_BM25_VALUES})"
    "  v(query_id, term)),"
    " tfb AS MATERIALIZED (SELECT t.doc_id, len(t.ts) AS dl,"
    "  u.term, COUNT(*) AS tf"
    "  FROM toks t, LATERAL unnest(ts) u(term)"
    f"  WHERE u.term IN ({_BM25_TERMS_IN})"
    "  GROUP BY t.doc_id, len(t.ts), u.term),"
    " idf AS (SELECT term, CAST(floor(1000000.0 *"
    "  ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0))"
    "  AS BIGINT) AS idf_u FROM (SELECT term, COUNT(*) AS df"
    "  FROM tfb GROUP BY term), st),"
    " sc AS (SELECT q.query_id, f.doc_id,"
    "  (CAST(idf_u AS HUGEINT) * f.tf * 22 * s) //"
    "  (CAST(10 AS HUGEINT) * s * f.tf + 3 * s + 9 * f.dl * n)"
    "   AS term_score"
    "  FROM tfb f JOIN qt q USING (term) JOIN idf USING (term)"
    "  CROSS JOIN st),"
    " tot AS (SELECT query_id, doc_id,"
    "  CAST(SUM(term_score) AS BIGINT) AS score_micro"
    "  FROM sc GROUP BY query_id, doc_id),"
    " lex AS (SELECT CAST(query_id AS INT) AS query_id, doc_id,"
    "  CAST(rank AS INT) AS rank, score_micro"
    "  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id"
    "   ORDER BY score_micro DESC, doc_id) AS rank FROM tot)"
    "  WHERE rank <= 10)"
)

#: Hybrid-retrieval oracle CTE chain ending in fused(query_id, doc_id,
#: rrf_nano, lex_rank, dense_rank, fused_rank) — the BM25 lex CTE + an
#: exact-cosine dense leg fused by RRF at 1e9 // (60 + rank); shared by
#: the hybrid_rrf oracle and the mmr_rerank candidate stage.
_HYBRID_FUSED_CTE = (
    _BM25_LEX_CTE + ","
    " q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv"
    f"  FROM embeddings WHERE vec_id < {len(_BM25_QUERIES)}),"
    " c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv"
    "  FROM embeddings),"
    " ds AS (SELECT query_id, neighbor_id,"
    "  ROUND(list_dot_product(qv, cv) /"
    "   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4)"
    "   AS cosine_r"
    "  FROM q, c WHERE neighbor_id <> query_id),"
    " dense AS (SELECT CAST(query_id AS INT) AS query_id,"
    "  neighbor_id AS doc_id, CAST(rank AS INT) AS rank"
    "  FROM (SELECT query_id, neighbor_id, ROW_NUMBER() OVER"
    "   (PARTITION BY query_id ORDER BY cosine_r DESC, neighbor_id)"
    "   AS rank FROM ds) WHERE rank <= 10),"
    " legs AS (SELECT query_id, doc_id, rank, 0 AS leg FROM lex"
    "  UNION ALL SELECT query_id, doc_id, rank, 1 AS leg FROM dense),"
    " fz AS (SELECT query_id, doc_id,"
    "  CAST(SUM(1000000000 // (60 + rank)) AS BIGINT) AS rrf_nano,"
    "  CAST(MAX(CASE WHEN leg = 0 THEN rank END) AS INT) AS lex_rank,"
    "  CAST(MAX(CASE WHEN leg = 1 THEN rank END) AS INT) AS dense_rank"
    "  FROM legs GROUP BY query_id, doc_id),"
    " fused AS MATERIALIZED (SELECT query_id, doc_id, rrf_nano,"
    "  lex_rank, dense_rank, CAST(fused_rank AS INT) AS fused_rank"
    "  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id"
    "   ORDER BY rrf_nano DESC, doc_id) AS fused_rank FROM fz)"
    "  WHERE fused_rank <= 10)"
)


def _mmr_oracle_sql(k: int = 5, k_in: int = 10) -> str:
    """Unrolled-greedy MMR oracle over the hybrid fused candidates:
    iteration 1 is the pure-relevance argmax; each later iteration
    anti-joins the selected set (LEFT JOIN + IS NULL — correlated NOT
    EXISTS over a CTE chain gets inlined exponentially in DuckDB),
    takes max Jaccard similarity against it, and argmaxes
    rel − max_sim with doc-id tie-breaks.  Mirrors
    similarity.mmr_rerank exactly."""
    parts = [
        "WITH " + _HYBRID_FUSED_CTE + ",",
        " cd AS MATERIALIZED (SELECT f.query_id AS q, f.doc_id AS d,"
        f"  CAST(CAST(1000000000 AS BIGINT) * ({k_in} + 1 - f.fused_rank)"
        f"   // {k_in} AS BIGINT) AS rel,"
        "  list_distinct(string_split(dt.text, ' ')) AS t"
        "  FROM fused f JOIN documents dt ON f.doc_id = dt.doc_id),",
        " sm AS MATERIALIZED (SELECT x.q, x.d AS a_id, y.d AS b_id,"
        "  CASE WHEN (len(x.t) + len(y.t) - len(list_intersect(x.t, y.t))) = 0"
        "   THEN CAST(0 AS BIGINT)"
        "   ELSE CAST(CAST(1000000000 AS BIGINT) * len(list_intersect(x.t, y.t)) //"
        "    (len(x.t) + len(y.t) - len(list_intersect(x.t, y.t))) AS BIGINT)"
        "  END AS s"
        "  FROM cd x JOIN cd y ON x.q = y.q AND x.d <> y.d),",
        " p1 AS MATERIALIZED (SELECT q, d, rel, CAST(0 AS BIGINT) AS ms,"
        "  rel AS sc, 1 AS mmr_rank"
        "  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q"
        "   ORDER BY rel DESC, d) AS rn FROM cd) WHERE rn = 1),",
        " sel1 AS (SELECT q, d FROM p1),",
    ]
    for i in range(2, k + 1):
        parts.append(
            f" m{i} AS (SELECT s.q, s.a_id AS d, MAX(s.s) AS ms"
            f"  FROM sm s JOIN sel{i - 1} e ON s.q = e.q AND s.b_id = e.d"
            "  GROUP BY s.q, s.a_id),"
        )
        parts.append(
            f" sc{i} AS (SELECT c.q, c.d, c.rel,"
            f"  CAST(COALESCE(m.ms, 0) AS BIGINT) AS ms,"
            f"  c.rel - CAST(COALESCE(m.ms, 0) AS BIGINT) AS sc"
            f"  FROM cd c LEFT JOIN m{i} m ON c.q = m.q AND c.d = m.d"
            f"  LEFT JOIN sel{i - 1} e ON c.q = e.q AND c.d = e.d"
            "  WHERE e.d IS NULL),"
        )
        parts.append(
            f" p{i} AS MATERIALIZED (SELECT q, d, rel, ms, sc,"
            f" {i} AS mmr_rank"
            "  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q"
            f"   ORDER BY sc DESC, d) AS rn FROM sc{i}) WHERE rn = 1),"
        )
        parts.append(
            f" sel{i} AS (SELECT q, d FROM sel{i - 1}"
            f"  UNION ALL SELECT q, d FROM p{i}),"
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM p{i}" for i in range(1, k + 1)
    )
    parts.append(
        " allp AS (" + union + ")"
        " SELECT CAST(q AS INT) AS query_id, d AS doc_id,"
        " CAST(mmr_rank AS INT) AS mmr_rank, rel AS rel_nano,"
        " ms AS max_sim_nano, sc AS mmr_score_nano FROM allp"
    )
    return "".join(parts)


_MMR_ORACLE_SQL = _mmr_oracle_sql()

#: classifier_score literal weight table, shared verbatim with the
#: oracle (see ocr_spark/operators/textops.py CLF_WEIGHTS_MICRO).
from ocr_spark.operators.textops import CLF_BIAS_MICRO as _CLF_BIAS  # noqa: E402
from ocr_spark.operators.textops import CLF_WEIGHTS_MICRO as _CLF_W  # noqa: E402
from ocr_spark.operators.textops import HLL_ALPHA_NUM as _HLL_ALPHA  # noqa: E402
from ocr_spark.operators.textops import _hll_rank_sql  # noqa: E402
from ocr_spark.operators.agenttrace import EPISODE_GAP_S as _EPISODE_GAP_S  # noqa: E402
from ocr_spark.operators.textops import SPLIT_FRACS as _SPLIT_FRACS  # noqa: E402
from ocr_spark.operators.transcript import CONTAIN_MAX_LEN as _CONTAIN_MAX_LEN  # noqa: E402
from ocr_spark.operators.transcript import SFT_PACK_BUDGET as _SFT_BUDGET  # noqa: E402
from ocr_spark.operators.transcript import SFT_PACK_SHARDS as _SFT_SHARDS  # noqa: E402
from ocr_spark.operators.transcript import _trunc_flag_sql  # noqa: E402
from ocr_spark.operators.transcript import blank_sql as _blank_sql  # noqa: E402
from ocr_spark.operators.textops import (  # noqa: E402
    DOM_ANCHOR_RE as _DOM_ANCHOR_RE,
    DOM_BLOCK_RE as _DOM_BLOCK_RE,
    DOM_MAX_LINK_E6 as _DOM_MAX_LINK_E6,
    DOM_MIN_TEXT as _DOM_MIN_TEXT,
)

_CLF_W_LIST = "[" + ", ".join(str(int(x)) for x in _CLF_W) + "]"

#: script_detect injection phrases — quote/backslash-free so they embed
#: verbatim in single-quoted SQL literals for BOTH engines.
#: dom_density HTML synthesis fragments, shared verbatim between the
#: Spark query and the oracle: a link-only nav div, two <p> content
#: blocks (the second with one inline anchor), a link-dense footer.
_DOM_PRE = (
    '<html><body><div class="nav"><a href="/">home</a>'
    '<a href="/a">about</a><a href="/c">contact</a></div><p>'
)
_DOM_MID1 = "</p><p>"
_DOM_MID2 = ' <a href="#">ref</a> '
_DOM_POST = (
    '</p><div class="footer"><a href="/t">terms</a> (c) corp'
    "</div></body></html>"
)


_SCRIPT_PHRASES = {
    "cyrillic": "привет мир данные",
    "cjk": "数据清洗流水线",
    "arabic": "بيانات التدريب",
    "greek": "δεδομένα εκπαίδευσης",
}


def _ahash_oracle_cte() -> str:
    """Shared CTE chain replaying image_ahash in DuckDB: md5-pixel
    bytes (the encode_fake_image scheme), the %97 injection families,
    integer mean-floor threshold bits, hex signature, 4×16-bit bands."""
    byte = (
        "(strpos('0123456789abcdef', substr(md5('img:' || bid || ':' ||"
        " CAST(i // 16 AS VARCHAR)), 2 * (i % 16) + 1, 1)) - 1) * 16"
        " + (strpos('0123456789abcdef', substr(md5('img:' || bid || ':' ||"
        " CAST(i // 16 AS VARCHAR)), 2 * (i % 16) + 2, 1)) - 1)"
    )
    bands = ", ".join(
        "CAST(list_sum(list_transform(range(0, 16),"
        f" t -> b[16 * {k} + t + 1] * (1 << (15 - CAST(t AS INT)))))"
        f" AS INT) AS band{k}"
        for k in range(4)
    )
    return (
        "WITH m AS (SELECT vec_id,"
        " CAST(CASE WHEN vec_id % 97 IN (3, 5) THEN 7 ELSE vec_id END"
        "  AS VARCHAR) AS bid,"
        " (vec_id % 97 = 5) AS pert, vec_id % 251 AS p0 FROM embeddings),"
        " pxt AS (SELECT vec_id, list_transform(range(0, 64), i ->"
        f" CASE WHEN pert AND i = 0 THEN p0 ELSE {byte} END) AS px FROM m),"
        " bt AS (SELECT vec_id, px, list_sum(px) // 64 AS mn FROM pxt),"
        " bits AS (SELECT vec_id, list_transform(px,"
        "  p -> CASE WHEN p > mn THEN 1 ELSE 0 END) AS b FROM bt),"
        " h AS (SELECT vec_id,"
        " array_to_string(list_transform(range(0, 16), j ->"
        "  substr('0123456789abcdef', CAST(b[4 * j + 1] * 8"
        "   + b[4 * j + 2] * 4 + b[4 * j + 3] * 2 + b[4 * j + 4] + 1"
        "   AS INT), 1)), '') AS ahash_hex,"
        f" {bands} FROM bits)"
    )


#: script_detect's non-Latin scripts, injected by doc_id%5 (a repeated
#: phrase long enough to flip the label) so every branch of the argmax
#: fires
_SCRIPT_INJ = (
    "CASE"
    + "".join(
        f" WHEN doc_id % 5 = {m}"
        f" THEN text || ' ' || repeat('{_SCRIPT_PHRASES[s]} ', 40)"
        for m, s in ((1, "cyrillic"), (2, "cjk"), (3, "arabic"), (4, "greek"))
    )
    + " ELSE text END"
)


def _script_detect_oracle_sql() -> str:
    """DuckDB replay of the script_detect contract query: the doc_id%5
    injection, the seven explicit-range counts, and the string-encoded
    argmax — built from the same SCRIPT_RANGES tuple the operator uses
    so the two can never drift."""
    from ocr_spark.operators.textops import SCRIPT_RANGES

    counts = ", ".join(
        f"CAST(length(regexp_replace(text, '[^{rng}]', '', 'g')) AS BIGINT)"
        f" AS n_{name}"
        for name, rng in SCRIPT_RANGES
    )
    total = " + ".join(f"n_{name}" for name, _ in SCRIPT_RANGES)
    nscripts = len(SCRIPT_RANGES)
    keys = ", ".join(
        f"lpad(CAST(n_{name} AS VARCHAR), 12, '0') ||"
        f" '{nscripts - i:02d}' || '{name}'"
        for i, (name, _) in enumerate(SCRIPT_RANGES)
    )
    names = ", ".join(f"n_{name}" for name, _ in SCRIPT_RANGES)
    return (
        f"WITH inj AS (SELECT doc_id, {_SCRIPT_INJ} AS text FROM documents),"
        f" c AS (SELECT doc_id, {counts} FROM inj),"
        f" w AS (SELECT doc_id, {names}, {total} AS total,"
        f"  greatest({keys}) AS win FROM c)"
        f" SELECT doc_id, {names},"
        " CASE WHEN total = 0 THEN 'unknown' ELSE substr(win, 15) END"
        "  AS script,"
        " CASE WHEN total = 0 THEN 0.0 ELSE"
        "  round(CAST(substr(win, 1, 12) AS DOUBLE) / CAST(total AS DOUBLE), 4)"
        "  END AS script_conf"
        " FROM w"
    )

def _script_segments_oracle_sql() -> str:
    """DuckDB replay of the script_segments contract query: the
    6-lines-per-doc synthesis ((doc_id + i) % 4 routing to Cyrillic /
    Greek / 8-token Latin slices), the per-line dominant-script argmax
    (same SCRIPT_RANGES string encoding as script_detect), and the
    gaps-and-islands merge of consecutive equal labels."""
    from ocr_spark.operators.textops import SCRIPT_RANGES

    counts = ", ".join(
        f"CAST(length(regexp_replace(line_text, '[^{rng}]', '', 'g'))"
        f" AS BIGINT) AS n_{name}"
        for name, rng in SCRIPT_RANGES
    )
    total = " + ".join(f"n_{name}" for name, _ in SCRIPT_RANGES)
    nscripts = len(SCRIPT_RANGES)
    keys = ", ".join(
        f"lpad(CAST(n_{name} AS VARCHAR), 12, '0') ||"
        f" '{nscripts - i:02d}' || '{name}'"
        for i, (name, _) in enumerate(SCRIPT_RANGES)
    )
    return (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts"
        "  FROM documents),"
        " l AS MATERIALIZED (SELECT doc_id, CAST(u.i AS INT) AS line_idx,"
        "  CASE WHEN (doc_id + u.i) % 4 = 1"
        "   THEN repeat('ж ', CAST(doc_id % 3 AS INT) + 1)"
        "  WHEN (doc_id + u.i) % 4 = 2"
        "   THEN repeat('π ', CAST((doc_id + u.i) % 2 AS INT) + 1)"
        # DuckDB list[a:b] with a > len(list) is NULL, not [] — Spark's
        # slice() gives [] and concat_ws '' there; coalesce for parity
        "  ELSE COALESCE(array_to_string("
        "   ts[(u.i * 8 + 1):(u.i * 8 + 8)], ' '), '') END AS line_text"
        "  FROM t, LATERAL unnest(range(0, 6)) u(i)),"
        f" c AS (SELECT doc_id, line_idx, {counts} FROM l),"
        f" s AS (SELECT doc_id, line_idx,"
        f"  CASE WHEN {total} = 0 THEN 'unknown'"
        f"   ELSE substr(greatest({keys}), 15) END AS script FROM c),"
        " r AS (SELECT doc_id, line_idx, script,"
        "  row_number() OVER (PARTITION BY doc_id ORDER BY line_idx)"
        "  - row_number() OVER (PARTITION BY doc_id, script"
        "     ORDER BY line_idx) AS grp FROM s),"
        " g AS (SELECT doc_id, script, grp,"
        "  CAST(MIN(line_idx) AS INT) AS start_line,"
        "  CAST(MAX(line_idx) AS INT) AS end_line,"
        "  CAST(COUNT(*) AS BIGINT) AS n_lines"
        "  FROM r GROUP BY doc_id, script, grp)"
        " SELECT doc_id,"
        " CAST(row_number() OVER (PARTITION BY doc_id"
        "   ORDER BY start_line) - 1 AS INT) AS seg_idx,"
        " script, start_line, end_line, n_lines FROM g"
    )


def _script_drift_oracle_sql() -> str:
    """DuckDB replay of the script_drift contract query: the turn%5
    Cyrillic injector, the per-turn dominant-script argmax (same
    SCRIPT_RANGES string encoding as script_detect), the per-
    conversation majority by turn count (ties to the lexicographically
    larger label), and the exact integer drift share."""
    from ocr_spark.operators.textops import SCRIPT_RANGES

    counts = ", ".join(
        f"CAST(length(regexp_replace(text, '[^{rng}]', '', 'g'))"
        f" AS BIGINT) AS n_{name}"
        for name, rng in SCRIPT_RANGES
    )
    total = " + ".join(f"n_{name}" for name, _ in SCRIPT_RANGES)
    nscripts = len(SCRIPT_RANGES)
    keys = ", ".join(
        f"lpad(CAST(n_{name} AS VARCHAR), 12, '0') ||"
        f" '{nscripts - i:02d}' || '{name}'"
        for i, (name, _) in enumerate(SCRIPT_RANGES)
    )
    return (
        "WITH " + _TURNS_SQL + ","
        f" inj AS (SELECT conv_id, {_DRIFT_INJ_SQL} AS text FROM turns),"
        f" c AS (SELECT conv_id, {counts} FROM inj),"
        f" s AS (SELECT conv_id, CASE WHEN {total} = 0 THEN 'unknown'"
        f"  ELSE substr(greatest({keys}), 15) END AS script FROM c),"
        " cl AS (SELECT conv_id, script,"
        "  CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY conv_id, script),"
        " m AS (SELECT conv_id,"
        "  MAX(lpad(CAST(n AS VARCHAR), 12, '0') || script) AS k,"
        "  CAST(SUM(n) AS BIGINT) AS n_turns FROM cl GROUP BY conv_id)"
        " SELECT conv_id, n_turns, substr(k, 13) AS majority_script,"
        " CAST(n_turns - CAST(substr(k, 1, 12) AS BIGINT) AS BIGINT)"
        "  AS n_off_script,"
        " CAST(1000000 * (n_turns - CAST(substr(k, 1, 12) AS BIGINT))"
        "  // n_turns AS BIGINT) AS drift_e6"
        " FROM m"
    )


#: the conversation near-dup queries' clone families, select lists over
#: the turns run by both engines: every 13th conversation (_CLONED) is
#: cloned as <prefix>NNNN, with the text of the turns where ``edit`` holds
#: replaced by ``repl``; m is the conversation's last turn_idx
_LAST_TURN = [
    "conv_id", "turn_idx", "role", "text",
    "MAX(turn_idx) OVER (PARTITION BY conv_id) AS m",
]
_CLONED = "CAST(substr(conv_id, 6, 4) AS INT) % 13 = 0"


def _clone_cols(prefix: str, edit: str = "FALSE", repl: str = "") -> list[str]:
    return [
        f"'{prefix}' || substr(conv_id, 6, 4) AS conv_id",
        "turn_idx",
        "role",
        f"CASE WHEN {edit} THEN '{repl}' ELSE text END AS text",
    ]


def _near_dup_chain(extra_arm: str = "", recursive: bool = False) -> str:
    """The shared CTE chain of the conversation near-dup oracles: the
    %13 perturbed-tail clone injector (plus any ``extra_arm`` UNION
    branches into ``allt``), 3-turn digest shingles, 16 big-endian-u32
    minhashes (digests hashed once per seed in a CTE, then
    byte-assembled via _sql_md5_u32be), 4 bands of 4, ending at CTE
    ``v`` (candidate pairs with exact intersection/union counts).
    ``recursive`` switches the WITH keyword for consumers that append
    a recursive walk CTE."""
    from ocr_spark.operators.transcript import (
        NEAR_DUP_BAND_SIZE as BS,
        NEAR_DUP_MAX_BUCKET as MAXB,
        NEAR_DUP_NUM_HASHES as NH,
    )

    hexes = ", ".join(
        f"md5('{k}:' || sg) AS x{k}" for k in range(NH)
    )
    mins = ", ".join(
        f"MIN({_sql_md5_u32be(f'x{k}')}) AS h{k}" for k in range(NH)
    )
    band_sel = " UNION ALL ".join(
        f"SELECT conv_id, {b} AS band_idx, md5("
        + " || '_' || ".join(
            f"CAST(h{b * BS + j} AS VARCHAR)" for j in range(BS)
        )
        + ") AS band_key FROM sig"
        for b in range(NH // BS)
    )
    return (
        ("WITH RECURSIVE " if recursive else "WITH ") + _TURNS_SQL + ","
        f" mx AS (SELECT {', '.join(_LAST_TURN)} FROM turns),"
        " nr AS (SELECT "
        + ", ".join(_clone_cols("near_", "turn_idx = m", _NEAR_DUP_TAIL_TEXT))
        + f" FROM mx WHERE {_CLONED}),"
        " allt AS (SELECT conv_id, turn_idx, role, text FROM turns"
        "  UNION ALL SELECT * FROM nr" + extra_arm + "),"
        " dg AS (SELECT conv_id, turn_idx,"
        "  md5(coalesce(role, '') || chr(31) ||"
        "   coalesce(text, '')) AS dig FROM allt),"
        " a AS MATERIALIZED (SELECT conv_id,"
        "  list(dig ORDER BY turn_idx) AS digs FROM dg GROUP BY conv_id),"
        " sh AS MATERIALIZED (SELECT conv_id,"
        "  CASE WHEN len(digs) >= 3 THEN"
        "   list_distinct(list_transform(range(1, len(digs) - 1),"
        "    i -> md5(array_to_string(digs[CAST(i AS INT):"
        "     CAST(i + 2 AS INT)], ''))))"
        "   ELSE [md5(array_to_string(digs, ''))] END AS s FROM a),"
        " u AS (SELECT conv_id, unnest(s) AS sg FROM sh),"
        f" ux AS (SELECT conv_id, {hexes} FROM u),"
        f" sig AS (SELECT conv_id, {mins} FROM ux GROUP BY conv_id),"
        f" bd0 AS ({band_sel}),"
        # hot-bucket guard mirrored from NEAR_DUP_MAX_BUCKET: oversized
        # band buckets (exact-dup families) never enter the self-join
        " bd AS MATERIALIZED (SELECT conv_id, band_idx, band_key FROM"
        "  (SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_key)"
        f"   AS bn FROM bd0) WHERE bn <= {MAXB}),"
        " cand AS (SELECT x.conv_id AS conv_a, y.conv_id AS conv_b,"
        "  CAST(COUNT(*) AS INT) AS n_bands FROM bd x JOIN bd y"
        "  ON x.band_idx = y.band_idx AND x.band_key = y.band_key"
        "   AND x.conv_id < y.conv_id GROUP BY 1, 2),"
        " v AS (SELECT c.conv_a, c.conv_b, c.n_bands,"
        "  CAST(len(list_intersect(p.s, q.s)) AS BIGINT) AS i,"
        "  CAST(len(p.s) + len(q.s) AS BIGINT)"
        "   - CAST(len(list_intersect(p.s, q.s)) AS BIGINT) AS un"
        "  FROM cand c JOIN sh p ON p.conv_id = c.conv_a"
        "  JOIN sh q ON q.conv_id = c.conv_b)"
    )


def _near_dup_oracle_sql() -> str:
    """DuckDB replay of conversation_near_dup: the shared chain plus
    the exact integer-Jaccard threshold select."""
    from ocr_spark.operators.transcript import (
        NEAR_DUP_MIN_JACCARD_E6 as MINJ,
    )

    return (
        _near_dup_chain()
        + " SELECT conv_a, conv_b, n_bands,"
        " CAST(1000000 * i // un AS BIGINT) AS jaccard_e6 FROM v"
        f" WHERE 1000000 * i // un >= {MINJ}"
    )


def _conversation_clusters_oracle_sql() -> str:
    """DuckDB replay of conversation_clusters: the near-dup chain with
    a SECOND clone family (head-perturbed 'nr2_' clones of the %13
    conversations) so transitive closure has triangles to close, a
    recursive min-label walk over the thresholded pairs, and the
    longest-transcript keeper election per component."""
    from ocr_spark.operators.transcript import (
        NEAR_DUP_MIN_JACCARD_E6 as MINJ,
    )

    clones = (
        _clone_cols("nr2_", "turn_idx = 0", _NEAR_DUP_HEAD_TEXT),
        _clone_cols("dup_"),
    )
    arm = "".join(
        f" UNION ALL SELECT {', '.join(cols)} FROM mx WHERE {_CLONED}"
        for cols in clones
    )
    return (
        _near_dup_chain(extra_arm=arm, recursive=True)
        + ", pr AS (SELECT conv_a, conv_b FROM v"
        f"  WHERE 1000000 * i // un >= {MINJ}),"
        " edges AS (SELECT conv_a AS src, conv_b AS dst FROM pr"
        "  UNION ALL SELECT conv_b, conv_a FROM pr),"
        " walk(conv_id, label) AS ("
        "  SELECT conv_id, conv_id FROM a"
        "  UNION"
        "  SELECT e.dst, w.label FROM walk w"
        "   JOIN edges e ON e.src = w.conv_id),"
        " lab AS (SELECT conv_id, MIN(label) AS cluster_id"
        "  FROM walk GROUP BY conv_id),"
        " nt AS (SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns"
        "  FROM allt GROUP BY conv_id)"
        " SELECT conv_id, cluster_id, n_turns,"
        "  ROW_NUMBER() OVER (PARTITION BY cluster_id"
        "   ORDER BY n_turns DESC, conv_id) = 1 AS is_keeper"
        " FROM lab JOIN nt USING (conv_id)"
    )


#: quality_tiers duplicate-class text (doc_id%101==5): every such doc
#: carries it verbatim — an exact-duplicate class for the discard tier.
_TIER_DUP_BLOCK = (
    "data pipelines repeat common boilerplate so the tier extraction"
    " funnel must detect and discard exact duplicates before training"
    " while keeping the first copy for coverage and it does this with a"
    " hash of the full document text grouped across the corpus so only"
    " one representative survives into the final mixture stage of the"
    " run"
)
assert len(_TIER_DUP_BLOCK.split(" ")) >= 50


# ---------------------------------------------------------------------------
# shared SQL: oracle fragments and injected inputs
# ---------------------------------------------------------------------------

_STOPLIST = "'the','a','of','and','to','in','is','it','for','on','with','as','at','by','an'"

# gopher_rules oracle fragments (over CTE b(doc_id, t, w, l)); the
# pass predicate reuses the UNROUNDED rationals exactly like the
# operator does.
_G_MEAN = "CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)/len(w)"
_G_SYM = (
    "CAST((len(t) - len(replace(t,'#',''))) +"
    " len(regexp_extract_all(t, '\\.\\.\\.')) AS DOUBLE)/len(w)"
)
_G_BULLET = (
    "CAST(len(list_filter(l, x -> x LIKE '- %' OR x LIKE '* %'))"
    " AS DOUBLE)/len(l)"
)
_G_ELL = "CAST(len(list_filter(l, x -> x LIKE '%...')) AS DOUBLE)/len(l)"
_G_ALPHA = (
    "CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))"
    " AS DOUBLE)/len(w)"
)
_G_NSTOP = f"len(list_filter([{_STOPLIST}], s -> list_contains(w, s)))"
_G_PASS = (
    f"(len(w) >= 50 AND len(w) <= 100000"
    f" AND {_G_MEAN} >= 3.0 AND {_G_MEAN} <= 10.0"
    f" AND {_G_SYM} < 0.1 AND {_G_BULLET} < 0.9 AND {_G_ELL} < 0.3"
    f" AND {_G_ALPHA} > 0.8 AND {_G_NSTOP} >= 2)"
)

#: gopher_rules' rule-class injection by doc_id%7 (symbol-heavy / bullet
#: lines / ellipsis lines / numeric block / truncated / doubled / raw),
#: the text on both engines; quality_tiers' exact-duplicate class
_G_INJ = (
    "CASE"
    " WHEN doc_id%7=1 THEN text || ' # # # # # # # #'"
    " WHEN doc_id%7=2 THEN '- ' || replace(text, ' ', chr(10) || '- ')"
    " WHEN doc_id%7=3 THEN replace(text, ' ', '...' || chr(10))"
    f" WHEN doc_id%7=4 THEN '{_GOPHER_NUM_BLOCK}'"
    " WHEN doc_id%7=5 THEN regexp_extract(text, '^[^ ]*( [^ ]*){0,2}', 0)"
    " WHEN doc_id%7=0 THEN text || ' ' || text"
    " ELSE text END"
)
_TIER_INJ = (
    f"CASE WHEN doc_id%101=5 THEN '{_TIER_DUP_BLOCK}' ELSE text END"
)

_SHINGLES = (
    "list_distinct(list_transform("
    " range(1, greatest(len(string_split({col},' ')) - 3 + 1, 0) + 1),"
    " i -> array_to_string(list_slice(string_split({col},' '), i, i+2), ' ')))"
)

#: MinHash signatures hash the verify unit itself (distinct word 3-gram
#: shingles, sentinel [''] for un-shinglable docs) — matches
#: dedup._minhash_batch / _shingle_set exactly. Written over a
#: pre-shingled column ``s`` (the shing0 CTEs below) so shingling runs
#: once per doc, not once per lane.
_MINHASH_COLS = ",\n    ".join(
    f"cast(list_min(list_transform(s, t -> md5_number('{i}:' || t))) as varchar) as h{i}"
    for i in range(16)
)

#: byte {b} of the md5-derived stream keyed {key}||vec_id||':'||block —
#: the replayable byte source behind the fake-image pixels and the WAV
#: fixture samples (block = b//16, offset = b%16, read from md5() hex).
_MD5_BYTE = (
    "((strpos('0123456789abcdef', substr(md5({key} || CAST(vec_id AS VARCHAR)"
    " || ':' || CAST(({b})//16 AS VARCHAR)), 2*(({b})%16)+1, 1))-1)*16"
    " + (strpos('0123456789abcdef', substr(md5({key} || CAST(vec_id AS VARCHAR)"
    " || ':' || CAST(({b})//16 AS VARCHAR)), 2*(({b})%16)+2, 1))-1))"
)

def _sql_hex_byte(h: str, i: int) -> str:
    """SQL for byte ``i`` (0-based) of an md5 HEX-STRING column ``h`` —
    big-endian within the byte (hex chars 2i+1, 2i+2), matching Spark's
    ``conv(substring(h, 2i+1, 2), 16, 10)``."""
    p = 2 * i + 1
    return (
        f"((strpos('0123456789abcdef', substr({h}, {p}, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr({h}, {p + 1}, 1)) - 1))"
    )


def _sql_md5_u32(h: str, off: int = 0) -> str:
    """SQL replay of textops._md5_u32: little-endian 4 bytes of hex
    digest column ``h`` starting at byte ``off`` as a BIGINT."""
    return (
        "("
        + " + ".join(
            f"{_sql_hex_byte(h, off + i)}::BIGINT * {256 ** i}"
            for i in range(4)
        )
        + ")"
    )


def _sql_md5_u32be(h: str) -> str:
    """SQL replay of Spark ``conv(substring(md5(x), 1, 8), 16, 10)``:
    BIG-endian first 4 bytes of hex digest ``h`` as a BIGINT (the
    kmv_distinct hash order)."""
    return (
        "("
        + " + ".join(
            f"{_sql_hex_byte(h, i)}::BIGINT * {256 ** (3 - i)}"
            for i in range(4)
        )
        + ")"
    )


def _turn_cols(idiv: str, fence: bool = False) -> list[str]:
    """The synthetic transcript as a select list over ``documents``, run by
    both engines (``idiv`` is the integer-division token: Spark ``DIV``,
    DuckDB ``//``): 97 conversations keyed by doc_id % 97, turn
    t = doc_id DIV 97; turns 3 and 4 of every 7-block are an assistant
    retry run (identical role+text — what clean_turns collapses),
    doc_id%13 injects role violations, doc_id%19 blanks the text.
    ``fence`` wraps the text of doc_id%11 in a ```lang fence (the agent
    traces' code blocks)."""
    t = f"(doc_id {idiv} 97)"
    fenced = (
        " WHEN doc_id % 11 = 0 THEN '```' || CASE doc_id % 3"
        " WHEN 0 THEN 'python' WHEN 1 THEN 'sql' ELSE 'bash' END"
        " || chr(10) || text || chr(10) || '```'"
    )
    return [
        "printf('conv_%04d', doc_id % 97) AS conv_id",
        f"CAST({t} AS INTEGER) AS turn_idx",
        f"CASE WHEN {t} % 7 IN (3, 4) THEN 'assistant'"
        " WHEN doc_id % 13 = 0 THEN 'assistant'"
        f" WHEN {t} % 2 = 0 THEN 'user' ELSE 'assistant' END AS role",
        "CASE WHEN doc_id % 19 = 0 THEN ''"
        f" WHEN {t} % 7 IN (3, 4) THEN '{_TURNS_RETRY_TEXT}'"
        + (fenced if fence else "")
        + " ELSE text END AS text",
    ]


def _agent_cols(idiv: str) -> list[str]:
    """The agent traces: the fenced transcript plus deterministic tool and
    integer-epoch ts_s columns, a select list over ``_turn_cols(idiv,
    fence=True)`` with doc_id and cnum (= doc_id % 97) kept. ts_s is epoch
    SECONDS, so every downstream trace quantity is a difference, exact in
    int64 with no session-timezone parity surface (the event_funnel
    lesson). Every 5th turn boundary adds a 900 s stall (trips
    turn_latency's 120 s gate)."""
    return [
        "conv_id", "turn_idx", "role", "text",
        "CASE WHEN role = 'assistant' AND turn_idx % 5 < 3 THEN"
        f" CASE (cnum + turn_idx {idiv} 3) % 4 WHEN 0 THEN 'search'"
        " WHEN 1 THEN 'exec' WHEN 2 THEN 'browse' ELSE 'calc' END"
        " END AS tool",
        "CAST(1700000000 AS BIGINT) + cnum * 40000 + turn_idx * 60"
        f" + doc_id % 23 + (turn_idx {idiv} 5) * 900 AS ts_s",
    ]


_AGENT_INNER = ["doc_id", "CAST(doc_id % 97 AS INTEGER) AS cnum"]


def _turns(spark, sf):
    return _docs(spark, sf).selectExpr(*_turn_cols("DIV"))


def _agent_turns(spark, sf):
    return (
        _docs(spark, sf)
        .selectExpr(*_turn_cols("DIV", fence=True), *_AGENT_INNER)
        .selectExpr(*_agent_cols("DIV"))
    )


#: the transcript and agent-trace CTEs of the oracles
_TURNS_SQL = "turns AS (SELECT " + ", ".join(_turn_cols("//")) + " FROM documents)"
_AGENT_SQL = (
    "agent_turns AS (SELECT " + ", ".join(_agent_cols("//")) + " FROM (SELECT "
    + ", ".join(_turn_cols("//", fence=True) + _AGENT_INNER) + " FROM documents))"
)

#: the oracles' blank test of a possibly-NULL text, one definition with
#: the Spark side (ocr_spark.operators.transcript.is_blank)
_BLANK_NULL_TEXT = _blank_sql("coalesce(text, '')")
#: the blank turns made of U+00A0/U+3000 (_NBSP_BLANK) instead of '':
#: the blank-handling queries must still read them as blank
_NBSP_TEXT = f"CASE WHEN text = '' THEN '{_NBSP_BLANK}' ELSE text END"
_NBSP_TURNS_SQL = (
    _TURNS_SQL.replace("turns AS (", "turns0 AS (", 1)
    + f", turns AS (SELECT conv_id, turn_idx, role, {_NBSP_TEXT} AS text FROM turns0)"
)


def _non_ascii_blanks(t):
    return t.withColumn("text", F.expr(_NBSP_TEXT))


#: jusText paragraph-synthesis + classification CTE chain, shared by
#: the boilerplate_classify and main_content_extract oracles (the
#: Spark side shares textops.boilerplate_classify the same way).
#: Carries para_text through so main_content can reassemble it; the
#: final per-paragraph class lives in g (context-free cf_class + the
#: neighbour flag nb).
_JUSTEXT_SQL = (
    "t AS (SELECT doc_id, string_split(text, ' ') AS ts,"
    "  len(string_split(text, ' ')) AS n FROM documents),"
    " p AS MATERIALIZED (SELECT doc_id,"
    "  CAST(u.j - 1 AS INT) AS para_idx,"
    "  CASE WHEN (u.j - 1) % 5 = 2 THEN"
    "   array_to_string(ts[((u.j - 1) * 12 + 1):"
    "    ((u.j - 1) * 12 + 12)], ' ')"
    "   || ' http://a.example/x http://a.example/y"
    " http://a.example/z http://a.example/w'"
    "  ELSE array_to_string(ts[((u.j - 1) * 12 + 1):"
    "    ((u.j - 1) * 12 + 12)], ' ') END AS para_text"
    "  FROM t, LATERAL unnest("
    "   range(1, (greatest(n, 1) - 1) // 12 + 2)) u(j)),"
    " f AS MATERIALIZED (SELECT doc_id, para_idx, para_text,"
    "  CAST(len(string_split(para_text, ' ')) AS BIGINT)"
    "   AS n_words,"
    "  CAST(len(list_filter(string_split(para_text, ' '),"
    "   x -> list_contains(['the','a','of','and','to','in'],"
    "    lower(x)))) AS BIGINT) AS stop_words,"
    "  CAST(len(list_filter(string_split(para_text, ' '),"
    "   x -> lower(x) LIKE 'http%')) AS BIGINT) AS link_words"
    "  FROM p),"
    " c AS MATERIALIZED (SELECT *,"
    "  CASE WHEN link_words * 5 > n_words THEN 'bad'"
    "   WHEN n_words < 8 THEN 'short'"
    "   WHEN stop_words * 100 >= n_words * 10 THEN 'good'"
    "   ELSE 'near' END AS cf_class FROM f),"
    " g AS (SELECT *,"
    "  (lag(cf_class) OVER w = 'good'"
    "   OR lead(cf_class) OVER w = 'good') AS nb"
    "  FROM c WINDOW w AS"
    "   (PARTITION BY doc_id ORDER BY para_idx))"
)


#: canned-refusal / AI-ism injector (the synthetic corpus has no refusal
#: phrasing), the text of refusal_detect and conversation_tiers on both
#: engines: prefix refusal on assistant turn%6==2, AI-ism marker on
#: assistant turn%9==5, blank turns untouched.
_REFUSAL_INJ_SQL = (
    "CASE WHEN role = 'assistant' AND text <> '' AND turn_idx % 6 = 2"
    " THEN 'I''m sorry, I can''t help with that. ' || text"
    " WHEN role = 'assistant' AND text <> '' AND turn_idx % 9 = 5"
    " THEN text || ' As an AI language model, I note this.'"
    " ELSE text END"
)


def _inject_refusals(t):
    return t.withColumn("text", F.expr(_REFUSAL_INJ_SQL))


#: script_drift injector, the turns' text on both engines: every 5th
#: non-blank turn swaps to the fixed Cyrillic phrase (the synthetic corpus
#: is Latin-only, so drift needs planting).
_DRIFT_INJ_SQL = (
    "CASE WHEN turn_idx % 5 = 1 AND text <> ''"
    f" THEN '{_SCRIPT_PHRASES['cyrillic']}'"
    " ELSE text END"
)


def _refusal_like_sql(col: str) -> str:
    """The REFUSAL_PREFIXES/MARKERS table as a LIKE chain over ``col``
    (already-escaped SQL expression) — the SQL twin of
    transcript._refusal_hit."""
    return (
        f"(lower(coalesce({col}, '')) LIKE 'i''m sorry%' OR"
        f" lower(coalesce({col}, '')) LIKE 'i cannot%' OR"
        f" lower(coalesce({col}, '')) LIKE 'i can''t%' OR"
        f" lower(coalesce({col}, '')) LIKE 'i am unable%' OR"
        f" lower(coalesce({col}, '')) LIKE 'as an ai%' OR"
        f" lower(coalesce({col}, '')) LIKE '%as an ai language model%' OR"
        f" lower(coalesce({col}, '')) LIKE '%i cannot assist with%')"
    )


#: truncation_detect injector, shared verbatim between the Spark query
#: and the oracle (the synthetic corpus has no sentence punctuation, so
#: the injector plants clean endings on turn%3=0 and an unbalanced
#: ``` fence on assistant turn%4=1; empty turns stay empty).  Pure
#: turn_idx/role arithmetic — the same text runs on both engines.
_TRUNC_INJ_SQL = (
    "CASE WHEN text = '' THEN text"
    " WHEN turn_idx % 3 = 0 THEN text || '.'"
    " WHEN turn_idx % 4 = 1 AND role = 'assistant'"
    "  THEN text || ' ```code'"
    " ELSE text END"
)


#: shingle set for signatures: a doc too short to shingle signs its FULL
#: text (unique per distinct text — a constant sentinel would bucket
#: every short doc of the corpus together in every band).
_SH_SENTINEL = (
    "(CASE WHEN len(" + _SHINGLES.format(col="text") + ") = 0 THEN [text]"
    " ELSE " + _SHINGLES.format(col="text") + " END)"
)

#: 16 hashes × 4-hash bands (b=4, r=4): per-band collision ≈ J_shingle^4,
#: S-curve midpoint ≈ 0.7 — sub-threshold pairs rarely collide.
_BANDS_16x4 = (
    "  SELECT 0 AS band_idx, md5(h0||'_'||h1||'_'||h2||'_'||h3) AS band_key, doc_id FROM sig"
    "  UNION ALL SELECT 1, md5(h4||'_'||h5||'_'||h6||'_'||h7), doc_id FROM sig"
    "  UNION ALL SELECT 2, md5(h8||'_'||h9||'_'||h10||'_'||h11), doc_id FROM sig"
    "  UNION ALL SELECT 3, md5(h12||'_'||h13||'_'||h14||'_'||h15), doc_id FROM sig"
)


#: Hyperplane-LSH sign codes, replayed exactly: plane component p,d =
#: low-64-bits(md5_number('plane:p:d')) / 2^63 - 1 — identical doubles to
#: similarity._plane, so bucket codes (and therefore candidate sets) match
#: the Spark plan bit-for-bit.
_N64 = "18446744073709551616"
_LSH_CODES = (
    "WITH planes AS ("
    " SELECT CAST(pi.p // 4 AS INT) AS table_idx, CAST(pi.p % 4 AS INT) AS pit,"
    "  list_transform(range(0, 64), d -> CAST((("
    "   md5_number('plane:' || CAST(pi.p AS VARCHAR) || ':' || CAST(d AS VARCHAR))"
    f"   % {_N64}) + {_N64}) % {_N64} AS DOUBLE) / 9223372036854775808.0 - 1.0)"
    "  AS plane"
    " FROM range(0, 32) pi(p)),"
    " e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
    " codes AS (SELECT e.vec_id, p.table_idx,"
    "  CAST(SUM(CASE WHEN list_dot_product(e.v, p.plane) >= 0"
    "   THEN (1::BIGINT << pit) ELSE 0 END) AS BIGINT) AS bucket"
    "  FROM e, planes p GROUP BY e.vec_id, p.table_idx)"
)

def _ivf_common_parts(
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 10,
    sample_n: int = 2048,
    dim: int = 64,
    q_pred: str = "vec_id < 5",
) -> list[str]:
    """Shared SQL prefix for the IVF-family oracles: md5-ordered sample →
    ``iters`` Lloyd steps (centroids rounded to 6 decimals per iteration —
    the same quantization the trainer applies, which pins the floats
    across engines) → corpus cell assignment → per-query probe list.
    Every iteration CTE is MATERIALIZED and argmax is a join+window: a
    correlated subquery would make DuckDB inline (re-run) the whole
    training chain per row. Ends after the ``probe`` CTE."""
    parts = [
        "WITH s AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v,"
        "  ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),"
        "   CAST(vec_id AS VARCHAR)) AS rn FROM embeddings),"
        " sx AS MATERIALIZED (SELECT rn, list_transform(v, e -> e /"
        "   (CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0"
        "    ELSE sqrt(list_dot_product(v, v)) END)) AS x"
        f"  FROM s WHERE rn <= {sample_n}),"
        f" c0 AS MATERIALIZED (SELECT rn - 1 AS cell,"
        f"  list_transform(x, e -> round(e, 6)) AS c FROM sx WHERE rn <= {nlist})"
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f", a{i} AS MATERIALIZED (SELECT rn, x, cell FROM ("
            f"  SELECT sx.rn, sx.x, c.cell, ROW_NUMBER() OVER (PARTITION BY sx.rn"
            f"   ORDER BY list_dot_product(sx.x, c.c) DESC, c.cell) AS rnk"
            f"  FROM sx, c{p} c) WHERE rnk = 1),"
            f" m{i} AS (SELECT cell, u.j AS j,"
            f"  SUM(x[CAST(u.j AS INT)]) / COUNT(*) AS mv"
            f"  FROM a{i}, LATERAL unnest(range(1, {dim + 1})) u(j) GROUP BY cell, u.j),"
            f" mm{i} AS (SELECT cell, list(mv ORDER BY j) AS m FROM m{i} GROUP BY cell),"
            f" c{i} AS MATERIALIZED (SELECT cell, list_transform(m, e -> round(e /"
            f"  (CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END), 6)) AS c FROM"
            f"  (SELECT p.cell, COALESCE(mm.m, p.c) AS m,"
            f"   sqrt(list_dot_product(COALESCE(mm.m, p.c), COALESCE(mm.m, p.c))) AS nrm"
            f"   FROM c{p} p LEFT JOIN mm{i} mm USING (cell)))"
        )
    cf = f"c{iters}"
    parts.append(
        ", e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        " corpus AS MATERIALIZED (SELECT neighbor_id, cv, cell FROM ("
        "  SELECT e.vec_id AS neighbor_id, e.v AS cv, c.cell,"
        "   ROW_NUMBER() OVER (PARTITION BY e.vec_id"
        "    ORDER BY list_dot_product(e.v, c.c) DESC, c.cell) AS rnk"
        f"  FROM e, {cf} c) WHERE rnk = 1),"
        f" q AS MATERIALIZED (SELECT vec_id AS q_id, v AS qv FROM e WHERE {q_pred}),"
        " probe AS (SELECT q_id, cell FROM ("
        "  SELECT q.q_id, c.cell, ROW_NUMBER() OVER (PARTITION BY q.q_id"
        "   ORDER BY list_dot_product(q.qv, c.c) DESC, c.cell) AS prank"
        f"  FROM q, {cf} c) WHERE prank <= {nprobe})"
    )
    return parts


def _ivf_oracle_sql(
    nlist: int = 16,
    nprobe: int = 4,
    k: int = 3,
    iters: int = 10,
    sample_n: int = 2048,
    dim: int = 64,
    q_pred: str = "vec_id < 5",
) -> str:
    """SQL-unrolled replay of similarity.ivf_topk: the common IVF prefix
    plus the exact rerank inside the probed cells."""
    parts = _ivf_common_parts(nlist, nprobe, iters, sample_n, dim, q_pred)
    parts.append(
        ", scored AS (SELECT probe.q_id, corpus.neighbor_id,"
        "  ROUND(list_dot_product(q.qv, corpus.cv) /"
        "   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(corpus.cv, corpus.cv))), 4)"
        "   AS cosine_r"
        "  FROM corpus JOIN probe USING (cell) JOIN q ON q.q_id = probe.q_id"
        "  WHERE corpus.neighbor_id <> probe.q_id),"
        " r AS (SELECT q_id, neighbor_id, cosine_r, ROW_NUMBER() OVER"
        "  (PARTITION BY q_id ORDER BY cosine_r DESC, neighbor_id) AS rank FROM scored)"
        f" SELECT q_id, neighbor_id, rank, cosine_r FROM r WHERE rank <= {k}"
    )
    return "".join(parts)


def _semdedup_oracle_sql(
    threshold: float = 0.35,
    nlist: int = 16,
    iters: int = 10,
    sample_n: int = 2048,
    dim: int = 64,
) -> str:
    """SQL-unrolled replay of dedup.semdedup: the common IVF prefix
    (training + corpus cell assignment; the q/probe CTEs go unused) plus
    the within-cell pairwise cosine and the lowest-id-kept rule."""
    parts = _ivf_common_parts(nlist, 1, iters, sample_n, dim, "vec_id < 0")
    parts.append(
        ", pr AS (SELECT a.neighbor_id AS id_a, b.neighbor_id AS id_b,"
        "  ROUND(list_dot_product(a.cv, b.cv) /"
        "   (sqrt(list_dot_product(a.cv, a.cv)) *"
        "    sqrt(list_dot_product(b.cv, b.cv))), 4) AS cos"
        "  FROM corpus a JOIN corpus b"
        "  ON a.cell = b.cell AND a.neighbor_id < b.neighbor_id),"
        f" dup AS (SELECT DISTINCT id_b FROM pr WHERE cos >= {threshold})"
        " SELECT c.neighbor_id AS vec_id, CAST(c.cell AS BIGINT) AS cell,"
        " (d.id_b IS NULL) AS kept"
        " FROM corpus c LEFT JOIN dup d ON d.id_b = c.neighbor_id"
    )
    return "".join(parts)


def _ivf_pq_oracle_sql(
    k: int = 3,
    rerank: int = 32,
    m: int = 8,
    ksub: int = 16,
    pq_iters: int = 5,
    pq_sample_n: int = 512,
    dim: int = 64,
    **ivf_kwargs,
) -> str:
    """SQL-unrolled replay of similarity.ivf_pq_topk: the common IVF
    prefix + per-subspace VQ codebook training (same quantized-Lloyd
    trick, all ``m`` subspaces trained in ONE CTE chain keyed by the
    subspace column), corpus PQ codes via rounded expanded-L2 argmin,
    asymmetric-distance scoring over probed candidates, top-``rerank``
    cut, then the exact cosine on survivors."""
    dsub = dim // m
    parts = _ivf_common_parts(dim=dim, **ivf_kwargs)
    parts.append(
        # training sample subvectors (reuses the md5-ordered sample CTE)
        f", sub AS MATERIALIZED (SELECT s.rn, CAST(mm.m AS INT) AS m,"
        f"  list_slice(s.v, {dsub}*mm.m + 1, {dsub}*mm.m + {dsub}) AS x"
        f"  FROM s, LATERAL unnest(range(0, {m})) mm(m) WHERE s.rn <= {pq_sample_n}),"
        f" pb0 AS MATERIALIZED (SELECT m, rn - 1 AS cell,"
        f"  list_transform(x, e -> round(e, 6)) AS c FROM sub WHERE rn <= {ksub})"
    )
    for i in range(1, pq_iters + 1):
        p = i - 1
        parts.append(
            f", pa{i} AS MATERIALIZED (SELECT rn, m, x, cell FROM ("
            f"  SELECT sub.rn, sub.m, sub.x, c.cell, ROW_NUMBER() OVER ("
            f"   PARTITION BY sub.rn, sub.m ORDER BY"
            f"   round(list_dot_product(sub.x, sub.x) - 2*list_dot_product(sub.x, c.c)"
            f"    + list_dot_product(c.c, c.c), 6), c.cell) AS rnk"
            f"  FROM sub JOIN pb{p} c USING (m)) WHERE rnk = 1),"
            f" pm{i} AS (SELECT m, cell, u.j AS j,"
            f"  SUM(x[CAST(u.j AS INT)]) / COUNT(*) AS mv"
            f"  FROM pa{i}, LATERAL unnest(range(1, {dsub + 1})) u(j)"
            f"  GROUP BY m, cell, u.j),"
            f" pmm{i} AS (SELECT m, cell, list(mv ORDER BY j) AS mlist"
            f"  FROM pm{i} GROUP BY m, cell),"
            f" pb{i} AS MATERIALIZED (SELECT p.m, p.cell,"
            f"  list_transform(COALESCE(mm.mlist, p.c), e -> round(e, 6)) AS c"
            f"  FROM pb{p} p LEFT JOIN pmm{i} mm ON mm.m = p.m AND mm.cell = p.cell)"
        )
    pbf = f"pb{pq_iters}"
    parts.append(
        f", esub AS MATERIALIZED (SELECT e.vec_id, CAST(mm.m AS INT) AS m,"
        f"  list_slice(e.v, {dsub}*mm.m + 1, {dsub}*mm.m + {dsub}) AS x"
        f"  FROM e, LATERAL unnest(range(0, {m})) mm(m)),"
        # corpus PQ codes carry the matched codebook vector for ADC
        f" pcodes AS MATERIALIZED (SELECT vec_id, m, c FROM ("
        f"  SELECT esub.vec_id, esub.m, cb.c, ROW_NUMBER() OVER ("
        f"   PARTITION BY esub.vec_id, esub.m ORDER BY"
        f"   round(list_dot_product(esub.x, esub.x) - 2*list_dot_product(esub.x, cb.c)"
        f"    + list_dot_product(cb.c, cb.c), 6), cb.cell) AS rnk"
        f"  FROM esub JOIN {pbf} cb USING (m)) WHERE rnk = 1),"
        " vn AS MATERIALIZED (SELECT vec_id, sqrt(list_dot_product(v, v)) AS vnorm FROM e),"
        " qn AS (SELECT q_id, sqrt(list_dot_product(qv, qv)) AS qnorm FROM q),"
        f" qsub AS (SELECT q.q_id, CAST(mm.m AS INT) AS m,"
        f"  list_slice(q.qv, {dsub}*mm.m + 1, {dsub}*mm.m + {dsub}) AS qx"
        f"  FROM q, LATERAL unnest(range(0, {m})) mm(m)),"
        " candpq AS MATERIALIZED (SELECT probe.q_id, corpus.neighbor_id"
        "  FROM corpus JOIN probe USING (cell)"
        "  WHERE corpus.neighbor_id <> probe.q_id),"
        " adc AS MATERIALIZED (SELECT cp.q_id, cp.neighbor_id,"
        "  SUM(list_dot_product(qs.qx, pc.c)) AS adot"
        "  FROM candpq cp JOIN pcodes pc ON pc.vec_id = cp.neighbor_id"
        "   JOIN qsub qs ON qs.q_id = cp.q_id AND qs.m = pc.m"
        "  GROUP BY cp.q_id, cp.neighbor_id),"
        " pqscore AS (SELECT adc.q_id, adc.neighbor_id,"
        "  CASE WHEN vn.vnorm > 0 AND qn.qnorm > 0"
        "   THEN ROUND(adc.adot / (qn.qnorm * vn.vnorm), 4) ELSE 0.0 END AS pq_cos"
        "  FROM adc JOIN vn ON vn.vec_id = adc.neighbor_id"
        "   JOIN qn ON qn.q_id = adc.q_id),"
        " surv AS (SELECT q_id, neighbor_id FROM ("
        "  SELECT q_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY q_id"
        "   ORDER BY pq_cos DESC, neighbor_id) AS pr FROM pqscore)"
        f"  WHERE pr <= {rerank}),"
        " fscored AS (SELECT surv.q_id, surv.neighbor_id,"
        "  ROUND(list_dot_product(q.qv, e.v) /"
        "   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 4)"
        "   AS cosine_r"
        "  FROM surv JOIN e ON e.vec_id = surv.neighbor_id"
        "   JOIN q ON q.q_id = surv.q_id),"
        " fr AS (SELECT q_id, neighbor_id, cosine_r, ROW_NUMBER() OVER"
        "  (PARTITION BY q_id ORDER BY cosine_r DESC, neighbor_id) AS rank FROM fscored)"
        f" SELECT q_id, neighbor_id, rank, cosine_r FROM fr WHERE rank <= {k}"
    )
    return "".join(parts)


def _VERIFIED_PAIRS_SELECT(cols: str) -> str:
    """SELECT over candidate pairs with the rounded shingle-Jaccard (jac)
    computed and thresholded at 0.5 — identical expression to the Spark
    verified_dup_pairs."""
    return (
        f"SELECT {cols} FROM ("
        " SELECT cand.a, cand.b,"
        "  CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) > 0"
        "   THEN ROUND(len(list_intersect(sa.sh, sb.sh))"
        "    / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE), 4)"
        "   ELSE 0.0 END AS jac"
        " FROM cand JOIN shingled sa ON sa.sid = cand.a"
        "  JOIN shingled sb ON sb.sid = cand.b)"
        " WHERE jac >= 0.5"
    )


_SIMHASH_V = (
    "WITH tok AS ("
    " SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents"
    " WHERE length(text) > 0),"
    " th AS (SELECT doc_id,"
    "  ((md5_number(t) % 18446744073709551616) + 18446744073709551616)"
    "   % 18446744073709551616 AS h FROM tok),"
    " bits AS (SELECT doc_id, u.b AS b,"
    "  SUM(CASE WHEN (h >> CAST(u.b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS acc"
    "  FROM th, LATERAL unnest(range(0, 64)) u(b) GROUP BY doc_id, u.b),"
    " v AS (SELECT doc_id, SUM(CASE WHEN acc > 0"
    "  THEN (1::HUGEINT << CAST(b AS INT)) ELSE 0::HUGEINT END) AS vu"
    "  FROM bits GROUP BY doc_id)"
)


#: Shared verify-stage SQL: minhash sig → LSH bands → candidate pairs →
#: per-doc shingle arrays, all MATERIALIZED (inlined CTEs would re-run the
#: whole chain per reference). Used by dedup_clusters / dedup_verified_pairs.
_LSH_VERIFY_PREFIX = (
    "WITH RECURSIVE shing0 AS MATERIALIZED (SELECT doc_id, "
    + _SH_SENTINEL
    + f" AS s FROM documents),"
    f" sig AS MATERIALIZED (SELECT doc_id, {_MINHASH_COLS} FROM shing0),"
    f" bands AS MATERIALIZED ({_BANDS_16x4}),"
    " cand AS MATERIALIZED (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b"
    "  FROM bands x JOIN bands y USING (band_idx, band_key)"
    "  WHERE x.doc_id < y.doc_id),"
    " shingled AS MATERIALIZED (SELECT doc_id AS sid, "
    + _SHINGLES.format(col="text")
    + " AS sh FROM documents)"
)


#: special_token_scrub's sentinel leakage: doc_id%6==0 docs get a trailing
#: endoftext marker, doc_id%6==3 an [INST]...[/INST] wrap; the scrub must
#: count and strip both shapes
_SENTINEL_TEXT = (
    "CASE WHEN doc_id % 6 = 0 THEN text || ' <|endoftext|>'"
    " WHEN doc_id % 6 = 3 THEN '[INST] ' || text || ' [/INST]'"
    " ELSE text END AS text"
)


def _scrub_oracle() -> str:
    """special_token_scrub oracle, generated from the SAME
    SPECIAL_TOKENS tuple the operator walks — chain order and count
    arithmetic stay structurally tied to the Spark side."""
    from ocr_spark.operators.textops import SPECIAL_TOKENS

    chain = "text"
    counts = []
    for tok in SPECIAL_TOKENS:
        chain = f"replace({chain}, '{tok}', '')"
        counts.append(
            f"(length(text) - length(replace(text, '{tok}', '')))"
            f" // {len(tok)}"
        )
    total = " + ".join(counts)
    return (
        f"WITH t AS (SELECT doc_id, {_SENTINEL_TEXT} FROM documents)"
        " SELECT doc_id,"
        f" CAST({total} AS BIGINT) AS n_sentinels,"
        f" regexp_replace(trim({chain}), ' +', ' ', 'g') AS clean_text"
        " FROM t"
    )


#: DPO pair-mining CTE chain shared by the preference_pairs and
#: preference_length_bias oracles — qa synthesis (50 shared prompts),
#: integer quality scores, per-prompt argmax (c) / argmin (j).
_PREF_CHAIN = (
    "WITH qa AS (SELECT printf('conv_%06d', doc_id) AS conv_id,"
    " 1 AS turn_idx,"
    " 'summarize record ' || CAST(doc_id % 50 AS VARCHAR) AS prompt,"
    " text AS response FROM documents),"
    " b AS (SELECT conv_id, turn_idx, prompt,"
    "  length(response)::HUGEINT AS nc,"
    "  len(string_split(response,' '))::HUGEINT AS nt,"
    f"  len(list_filter(string_split(response,' '), t -> t IN ({_STOPLIST})))::HUGEINT AS ns,"
    "  length(regexp_replace(response, '[a-z0-9 ]', '', 'g'))::HUGEINT AS nn"
    "  FROM qa),"
    " s AS (SELECT conv_id, turn_idx, prompt, nc,"
    "  least(nc, 500)*nt*nc + 300*ns*nc + 200*nt*(nc - nn) AS num,"
    "  1000*nt*nc AS den FROM b),"
    " q AS (SELECT conv_id, turn_idx, prompt, CASE WHEN nc = 0 THEN -1"
    "  ELSE CAST((20000*num + den) // (2*den) AS BIGINT) END AS qe4"
    "  FROM s),"
    " r AS (SELECT conv_id, turn_idx, prompt, qe4,"
    "  ROW_NUMBER() OVER (PARTITION BY prompt"
    "   ORDER BY qe4 DESC, conv_id, turn_idx) AS rh,"
    "  ROW_NUMBER() OVER (PARTITION BY prompt"
    "   ORDER BY qe4 ASC, conv_id, turn_idx) AS rl,"
    "  MAX(qe4) OVER (PARTITION BY prompt) AS qmax,"
    "  MIN(qe4) OVER (PARTITION BY prompt) AS qmin FROM q),"
    " c AS (SELECT prompt, conv_id AS chosen_conv_id,"
    "  turn_idx AS chosen_turn_idx, qe4 AS cq FROM r"
    "  WHERE rh = 1 AND qmax > qmin),"
    " j AS (SELECT prompt, conv_id AS rejected_conv_id,"
    "  turn_idx AS rejected_turn_idx, qe4 AS rq FROM r"
    "  WHERE rl = 1 AND qmax > qmin)"
)


_SH_A = _SHINGLES.format(col="text_a")

_SH_B = _SHINGLES.format(col="text_b")

# BPE oracle fragments: the SAME literal merge table unrolled into a
# DuckDB replace chain (one replace per rank — identical single-pass
# left-to-right semantics as the Spark expression chain)
_BPE_SPACED = (
    "' ' || array_to_string(string_split(replace(text, ' ', '|'), ''),"
    " ' ') || ' '"
)

_BPE_TOKS = (
    "list_filter(string_split(trim("
    + bpe.oracle_merge_chain_sql(_BPE_SPACED)
    + "), ' '), x -> x <> '|' AND x <> '')"
)


# ---------------------------------------------------------------------------
# transcript and fixture synthesis shared by several queries
# ---------------------------------------------------------------------------


def _fake_images(spark, sf):
    # encode_fake_image payloads: label%16+1 wide, vec_id%8+1 high
    return _payloads(
        _tbl(spark, sf, "embeddings").select("vec_id", "label"),
        lambda v, label: multimodal.encode_fake_image(v, label % 16 + 1, v % 8 + 1),
    )


def _ahash_payloads(spark, sf):
    # 8x8 md5-pixel fixture images with two injected near-dup
    # families the oracle replays: vec_id%97==3 -> the EXACT base
    # image (id 7); %97==5 -> base image with pixel 0 overwritten
    # by vec_id%251 (a one-byte perturbation, hamming-small)
    def enc(v: int) -> bytes:
        if v % 97 == 3:
            return multimodal.encode_fake_image(7, 8, 8)
        if v % 97 == 5:
            b = bytearray(multimodal.encode_fake_image(7, 8, 8))
            b[9] = v % 251  # first pixel byte (9-byte header)
            return bytes(b)
        return multimodal.encode_fake_image(v, 8, 8)

    return _payloads(_tbl(spark, sf, "embeddings").select("vec_id"), enc)


def _wav_fixture(spark, sf):
    # REAL WAV payloads with md5-derived mono int16 samples (sample
    # i = signed little-endian int16 of digest bytes 2i..2i+1 of
    # block i//8) — the image md5-pixel trick widened to 16-bit
    # audio, so oracles recompute exact samples from md5() hex.
    # Shared by audio_features and audio_segments.
    import hashlib

    import numpy as np

    from ocr_spark.kernels.wav import encode_wav

    emb = _tbl(spark, sf, "embeddings").select("vec_id").filter(
        F.col("vec_id") < 200
    )

    def enc(v: int) -> bytes:
        n = v % 40 + 8
        raw = b"".join(
            hashlib.md5(f"wav:{v}:{blk}".encode()).digest()
            for blk in range((2 * n + 15) // 16)
        )[: 2 * n]
        samples = np.frombuffer(raw, dtype="<i2").copy()
        return encode_wav(samples, rate=16000)

    return _payloads(emb, enc)


def _mjpeg_fixture(spark, sf):
    # MJPEG stream of REAL (flat-gray) JPEG frames: flat 8x8 blocks
    # survive quantization exactly at q90 (verified for all 256
    # levels), so frame means are integer-exact and the oracles
    # compute them arithmetically from (vec_id, frame_idx). Shared
    # by video_frame_sample and video_scene_cuts.
    import numpy as np

    from ocr_spark.kernels.jpeg import encode_jpeg

    emb = _tbl(spark, sf, "embeddings").select("vec_id").filter(
        F.col("vec_id") < 150
    )

    def enc(v: int) -> bytes:
        w, h = v % 16 + 8, v % 8 + 8
        frames = [
            encode_jpeg(
                np.full((h, w), (v * 7 + f * 13) % 256, np.uint8),
                quality=90,
            )
            for f in range(v % 4 + 2)
        ]
        return b"".join(frames)

    return _payloads(emb, enc)


def _paras(spark, sf):
    # jusText-style layout: paragraphs = 12-token slices of each
    # doc; every (para_idx % 5 == 2) paragraph gains 4 link tokens
    # (4*5 > 16 -> context-free 'bad'); ragged tails go 'short';
    # stopword density splits the rest into 'good'/'near' before
    # the neighbour propagation
    d = _docs(spark, sf)
    base = d.select("doc_id", F.split(F.col("text"), " ").alias("__ts"))
    n = F.size("__ts")
    links = F.array(
        *[F.lit("http://a.example/" + c) for c in ("x", "y", "z", "w")]
    )
    body = F.concat_ws(" ", F.slice(F.col("__ts"), F.col("__s"), 12))
    return base.select(
        "doc_id",
        "__ts",
        F.posexplode(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(12))
        ).alias("para_idx", "__s"),
    ).select(
        "doc_id",
        F.col("para_idx").cast("int").alias("para_idx"),
        F.when(
            F.col("para_idx") % 5 == 2,
            F.concat(body, F.lit(" "), F.concat_ws(" ", links)),
        )
        .otherwise(body)
        .alias("para_text"),
    )


# ---------------------------------------------------------------------------
# contract queries: one record per query
# ---------------------------------------------------------------------------

_RECORDS: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {}


def _query(oracle: str):
    """Register the decorated function as the contract query of its name,
    with ``oracle`` the DuckDB SQL that must return the same rows. Records
    register in file order, which is the key order of ``queries()``; the
    correctness window is its first 50 keys."""

    def register(build):
        if build.__name__ in _RECORDS:
            raise ValueError(f"contract query {build.__name__} registered twice")
        _RECORDS[build.__name__] = (build, oracle)
        return build

    return register


# deterministic epoch shuffle: md5_number low byte ≡ Spark's
# conv(substring(md5,1,2)) for the shard, hex-string order for
# the in-shard position
@_query(
    "WITH k AS (SELECT doc_id, md5('epoch0:' || doc_id) AS key,"
    " CAST(((md5_number('epoch0:' || doc_id) % 64) + 64) % 64"
    "  AS INT) AS shard FROM documents)"
    " SELECT doc_id, shard,"
    " CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key)"
    "  AS BIGINT) AS pos FROM k"
)
def corpus_shuffle(spark, sf):
    # deterministic training-order shuffle: md5(salt:doc_id) shard
    # + per-shard position; new salt = new epoch, no global sort
    return textops.corpus_shuffle(_docs(spark, sf))


#: mixture_sample's domain skew: the corpus's sources are uniform (weights
#: would all be 1.0), so doc_id%10<6 docs collapse into one dominant
#: 'common' source; downsampled w<1 AND upsampled w>1 branches both fire
_MIX_SOURCE = "CASE WHEN doc_id % 10 < 6 THEN 'common' ELSE source END AS source"


# mixture application: domain_mix weights + md5-uniform
# Bernoulli (little-endian low 4 digest bytes / 2^32 — matches
# Spark's byte-wise conv reassembly); domain-skew injection
@_query(
    f"WITH inj AS (SELECT doc_id, {_MIX_SOURCE} FROM documents),"
    " tot AS (SELECT COUNT(*) AS n_total FROM inj),"
    " per AS (SELECT source, COUNT(*) AS n_domain FROM inj"
    "  GROUP BY source),"
    " mu AS (SELECT source, n_domain, n_total,"
    "  CAST(floor(sqrt(CAST(n_domain AS DOUBLE)/n_total) * 1000000)"
    "   AS BIGINT) AS mu FROM per, tot),"
    " z AS (SELECT CAST(SUM(mu) AS BIGINT) AS z FROM mu),"
    " w AS (SELECT d.doc_id, d.source,"
    "  ROUND((CAST(m.mu AS DOUBLE)/z.z) /"
    "   (CAST(m.n_domain AS DOUBLE)/m.n_total), 6) AS mix_weight"
    "  FROM inj d JOIN mu m USING (source), z),"
    " s AS (SELECT doc_id, source, mix_weight,"
    "  CAST(floor(mix_weight) + CASE WHEN"
    "   CAST(((md5_number('epoch0:' || doc_id) % 4294967296)"
    "    + 4294967296) % 4294967296 AS DOUBLE) / 4294967296"
    "   < mix_weight - floor(mix_weight) THEN 1 ELSE 0 END"
    "   AS BIGINT) AS n_copies FROM w)"
    " SELECT doc_id, source, mix_weight, n_copies,"
    " n_copies > 0 AS sampled FROM s"
)
def mixture_sample(spark, sf):
    # mixture weights APPLIED as one epoch: floor(w) copies + one
    # Bernoulli(frac(w)) via a deterministic md5 uniform
    return textops.mixture_sample(_docs(spark, sf).selectExpr("doc_id", _MIX_SOURCE))


# top-256 vocabulary by term frequency (count desc, token asc
# total order makes the cut deterministic) + per-doc OOV rate
@_query(
    "WITH toks AS (SELECT doc_id,"
    "  unnest(string_split(text, ' ')) AS token FROM documents),"
    " vocab AS (SELECT token FROM (SELECT token, COUNT(*) AS c"
    "  FROM toks GROUP BY token"
    "  ORDER BY c DESC, token ASC LIMIT 256)),"
    " per AS (SELECT t.doc_id, COUNT(*) AS n_tokens,"
    "  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)"
    "   AS BIGINT) AS n_oov"
    "  FROM toks t LEFT JOIN vocab v USING (token)"
    "  GROUP BY t.doc_id)"
    " SELECT doc_id, n_tokens, n_oov,"
    " ROUND(n_oov::DOUBLE / n_tokens, 4) AS oov_frac FROM per"
)
def vocab_oov(spark, sf):
    # top-256 corpus vocabulary (count desc, token asc total order)
    # then per-doc out-of-vocabulary token fraction
    return textops.vocab_oov(_docs(spark, sf))


# stable train/val/test split: the same little-endian low-4-byte
# md5 uniform as mixture_sample (md5_number mod 2^32), thresholds
# 0.98 / 0.99
@_query(
    "SELECT doc_id,"
    " CASE WHEN u < 0.98 THEN 'train'"
    "  WHEN u < 0.99 THEN 'val' ELSE 'test' END AS split, u"
    " FROM (SELECT doc_id,"
    "  (((md5_number('split0:' || CAST(doc_id AS VARCHAR))"
    "     % 4294967296) + 4294967296) % 4294967296)::DOUBLE"
    "   / 4294967296.0 AS u FROM documents)"
)
def split_assign(spark, sf):
    # deterministic train/val/test by md5(salt:doc_id) uniform —
    # the oracle replays the exact dyadic uniform via md5_number
    return textops.split_assign(_docs(spark, sf))


# each assistant turn paired with the last user turn strictly
# before it; openers with no preceding user turn drop
@_query(
    "WITH " + _TURNS_SQL + ","
    " p AS (SELECT conv_id, turn_idx, role, text,"
    "  last_value(CASE WHEN role = 'user' THEN text END IGNORE NULLS)"
    "  OVER (PARTITION BY conv_id ORDER BY turn_idx"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prompt"
    "  FROM turns)"
    " SELECT conv_id, turn_idx, prompt, text AS response FROM p"
    " WHERE role = 'assistant' AND prompt IS NOT NULL"
)
def qa_pair_extract(spark, sf):
    # each assistant turn + nearest preceding user turn → the
    # (prompt, response) supervision pairs SFT ingests
    return transcript.qa_pairs(_turns(spark, sf))


# blank turns drop; verbatim (role, text) repeats of the
# previous turn collapse keep-first; survivors renumber densely
@_query(
    "WITH " + _TURNS_SQL + ","
    f" nb AS (SELECT * FROM turns WHERE NOT {_blank_sql('text')}),"
    " fl AS (SELECT conv_id, turn_idx, role, text,"
    "  lag(role) OVER w AS pr, lag(text) OVER w AS pt FROM nb"
    "  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),"
    " kp AS (SELECT conv_id, turn_idx, role, text FROM fl"
    "  WHERE NOT (role IS NOT DISTINCT FROM pr"
    "   AND text IS NOT DISTINCT FROM pt))"
    " SELECT conv_id,"
    "  CAST(ROW_NUMBER() OVER (PARTITION BY conv_id"
    "   ORDER BY turn_idx) - 1 AS INTEGER) AS new_turn_idx,"
    "  turn_idx AS orig_turn_idx, role, text FROM kp"
)
def transcript_clean(spark, sf):
    # drop blank turns, collapse verbatim retry runs, renumber
    return transcript.clean_turns(_turns(spark, sf))


# role-alternation audit: violations, first offender, user-first
@_query(
    "WITH " + _TURNS_SQL + ","
    " v AS (SELECT conv_id, turn_idx, role,"
    "  CASE WHEN role = lag(role) OVER (PARTITION BY conv_id"
    "   ORDER BY turn_idx) THEN 1 END AS viol FROM turns)"
    " SELECT conv_id, COUNT(*) AS n_turns,"
    "  COUNT(viol) AS n_violations,"
    "  MIN(CASE WHEN viol = 1 THEN turn_idx END) AS first_bad_idx,"
    "  (min_by(role, turn_idx) = 'user') AS starts_with_user,"
    "  (COUNT(viol) = 0 AND min_by(role, turn_idx) = 'user') AS valid"
    " FROM v GROUP BY conv_id"
)
def transcript_validate(spark, sf):
    # per-conversation role-alternation audit (ingestion gate)
    return transcript.validate_roles(_turns(spark, sf))


# assistant-turn [start, end) token offsets in the concatenated
# per-conversation stream — exact integer running sum
@_query(
    "WITH " + _TURNS_SQL + ","
    " tk AS (SELECT conv_id, turn_idx, role,"
    f"  CASE WHEN {_blank_sql('text')} THEN 0"
    "   ELSE len(string_split(text, ' ')) END AS tok FROM turns),"
    " s AS (SELECT conv_id, turn_idx, role, tok,"
    "  COALESCE(CAST(SUM(tok) OVER (PARTITION BY conv_id"
    "   ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING"
    "   AND 1 PRECEDING) AS BIGINT), 0) AS start_tok FROM tk)"
    " SELECT conv_id, turn_idx, start_tok,"
    "  CAST(start_tok + tok AS BIGINT) AS end_tok FROM s"
    " WHERE role = 'assistant' AND tok > 0"
)
def loss_mask_spans(spark, sf):
    # assistant-only loss spans in the concatenated token stream
    return transcript.loss_mask(_turns(spark, sf))


# maximal conversation suffix within the 150-token budget:
# reverse running sum ≤ budget (trim history from the front)
@_query(
    "WITH " + _TURNS_SQL + ","
    " tk AS (SELECT conv_id, turn_idx, role,"
    f"  CAST(CASE WHEN {_blank_sql('text')} THEN 0"
    "   ELSE len(string_split(text, ' ')) END AS BIGINT) AS n_tokens"
    "  FROM turns),"
    " s AS (SELECT conv_id, turn_idx, role, n_tokens,"
    "  CAST(SUM(n_tokens) OVER (PARTITION BY conv_id"
    "   ORDER BY turn_idx DESC ROWS BETWEEN UNBOUNDED PRECEDING"
    "   AND CURRENT ROW) AS BIGINT) AS tokens_to_end FROM tk)"
    " SELECT conv_id, turn_idx, role, n_tokens, tokens_to_end"
    " FROM s WHERE tokens_to_end <= 150"
)
def context_window_trim(spark, sf):
    # keep the maximal per-conversation suffix within the token
    # budget (chat training trims history from the front)
    return transcript.trim_context(_turns(spark, sf))


def _dup_family_cols(idiv: str) -> list[str]:
    """conversation_dedup's transcript over ``documents`` (``idiv`` as in
    _turn_cols): convs in the %10==7 family share a constant (role, text)
    sequence per turn-count class, so there are real duplicate groups at
    every SF. Plain parity roles (no violation injectors: those vary per
    doc_id and would make every family member unique)."""
    t = f"(doc_id {idiv} 97)"
    return [
        "printf('conv_%04d', doc_id % 97) AS conv_id",
        f"CAST({t} AS INTEGER) AS turn_idx",
        f"CASE WHEN {t} % 2 = 0 THEN 'user' ELSE 'assistant' END AS role",
        "CASE WHEN (doc_id % 97) % 10 = 7"
        f" THEN 'shared turn payload ' || CAST({t} AS STRING) ELSE text END AS text",
    ]


# conversation-level exact dedup: conv digest = md5 over ordered
# per-turn md5(role, text) digests; canonical = min conv_id
@_query(
    "WITH tu AS (SELECT " + ", ".join(_dup_family_cols("//")) + " FROM documents),"
    " d AS (SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,"
    "  md5(string_agg(md5(coalesce(role, '') || chr(31)"
    "   || coalesce(text, '')), '' ORDER BY turn_idx)) AS digest"
    "  FROM tu GROUP BY conv_id)"
    " SELECT conv_id, n_turns, digest,"
    "  MIN(conv_id) OVER (PARTITION BY digest) AS canonical_conv_id,"
    "  conv_id <> MIN(conv_id) OVER (PARTITION BY digest) AS is_dup"
    " FROM d"
)
def conversation_dedup(spark, sf):
    turns = _docs(spark, sf).selectExpr(*_dup_family_cols("DIV"))
    return transcript.dedup_conversations(turns)


# fuzzy conversation dedup: 3-turn digest shingles, 16 u32be
# minhashes, 4x4 bands, exact integer Jaccard on band-mates
@_query(_near_dup_oracle_sql())
def conversation_near_dup(spark, sf):
    # fuzzy-dup injector: every 13th conversation is cloned as
    # near_%04d with its LAST turn's text perturbed — one edited
    # turn escapes exact dedup but shares 10/12 turn shingles, so
    # the minhash bands must surface the pair and the exact
    # integer Jaccard must score it
    t = _turns(spark, sf)
    fam = t.selectExpr(*_LAST_TURN).filter(_CLONED)
    nr = fam.selectExpr(*_clone_cols("near_", "turn_idx = m", _NEAR_DUP_TAIL_TEXT))
    return transcript.near_dup_conversations(t.unionByName(nr))


# fuzzy-dedup funnel end: recursive min-label walk + keeper
@_query(_conversation_clusters_oracle_sql())
def conversation_dedup_clusters(spark, sf):
    # the fuzzy-dedup funnel end: TWO clone families per %13 conv
    # (tail-perturbed near_, head-perturbed nr2_) so the recursive
    # closure has triangles to close; min-label components over the
    # thresholded near-dup pairs, longest-transcript keeper per
    # component (ties -> conv_id asc, so the base conv wins)
    t = _turns(spark, sf)
    fam = t.selectExpr(*_LAST_TURN).filter(_CLONED)
    nr = fam.selectExpr(*_clone_cols("near_", "turn_idx = m", _NEAR_DUP_TAIL_TEXT))
    nr2 = fam.selectExpr(*_clone_cols("nr2_", "turn_idx = 0", _NEAR_DUP_HEAD_TEXT))
    # exact clone: identical signature -> ALL bands collide, so
    # every %13 family is guaranteed a component; where a perturbed
    # clone also pairs, the component closes transitively (3 nodes)
    dup = fam.selectExpr(*_clone_cols("dup_"))
    return transcript.conversation_clusters(
        t.unionByName(nr).unionByName(nr2).unionByName(dup)
    )


# cross-conversation boilerplate: per-turn md5 digests (text
# never shuffles), distinct-conv counts, flag at >= 5 convs;
# blank (NULL/space-separator-only) turns never count and always read
# n_convs = 0
@_query(
    "WITH " + _NBSP_TURNS_SQL + ","
    " b AS (SELECT conv_id, turn_idx, role,"
    "  md5(coalesce(text, '')) AS dig,"
    f"  {_BLANK_NULL_TEXT} AS blank FROM turns),"
    " c AS (SELECT dig, CAST(COUNT(DISTINCT conv_id) AS BIGINT)"
    "   AS n FROM b WHERE NOT blank GROUP BY dig)"
    " SELECT b.conv_id, b.turn_idx, b.role,"
    "  COALESCE(c.n, 0) AS n_convs,"
    "  COALESCE(c.n, 0) >= 5 AS is_boilerplate"
    " FROM b LEFT JOIN c USING (dig)"
)
def turn_boilerplate(spark, sf):
    # cross-conversation repeated-turn masking: the synthetic retry
    # text recurs in every conversation's 7-blocks (n_convs = 97)
    # and must flag; ordinary per-doc texts stay unique (n_convs=1)
    return transcript.boilerplate_turns(_non_ascii_blanks(_turns(spark, sf)))


# canned-refusal rate over the refusal-injected turns, then the literal
# REFUSAL_PREFIXES/MARKERS table as anchored / floating LIKE patterns
@_query(
    "WITH " + _TURNS_SQL + ","
    " inj AS (SELECT conv_id, role,"
    f"  {_REFUSAL_INJ_SQL} AS text FROM turns),"
    " f AS (SELECT conv_id,"
    "  CASE WHEN role = 'assistant' THEN 1 ELSE 0 END AS a,"
    "  CASE WHEN role = 'assistant' AND"
    f"   {_refusal_like_sql('text')}"
    "   THEN 1 ELSE 0 END AS r FROM inj)"
    " SELECT conv_id, CAST(SUM(a) AS BIGINT) AS n_assistant,"
    " CAST(SUM(r) AS BIGINT) AS n_refusal,"
    " CASE WHEN SUM(a) = 0 THEN NULL"
    "  ELSE CAST(1000000 * SUM(r) // SUM(a) AS BIGINT) END"
    "  AS refusal_e6"
    " FROM f GROUP BY conv_id"
)
def refusal_detect(spark, sf):
    return transcript.flag_refusals(_inject_refusals(_turns(spark, sf)))


# conversation quality-tier funnel: clean (transcript_clean's
# nb/fl/kp chain), adjacency violations, refusal + boilerplate
# flags, exact ppm signals, fixed tier CASE — all over the
# refusal-injected corpus
@_query(
    "WITH " + _TURNS_SQL + ","
    " inj0 AS (SELECT conv_id, turn_idx, role,"
    f"  {_REFUSAL_INJ_SQL} AS text FROM turns),"
    f" inj AS (SELECT conv_id, turn_idx, role, {_NBSP_TEXT} AS text FROM inj0),"
    " raw AS (SELECT conv_id,"
    "  CAST(COUNT(*) AS BIGINT) AS n_turns,"
    f"  CAST(SUM(CASE WHEN {_BLANK_NULL_TEXT}"
    "   THEN 1 ELSE 0 END) AS BIGINT) AS n_blank"
    "  FROM inj GROUP BY conv_id),"
    f" nb AS (SELECT * FROM inj WHERE NOT {_blank_sql('text')}),"
    " fl AS (SELECT conv_id, turn_idx, role, text,"
    "  lag(role) OVER w AS pr, lag(text) OVER w AS pt FROM nb"
    "  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),"
    " kp AS (SELECT conv_id, turn_idx, role, text FROM fl"
    "  WHERE NOT (role IS NOT DISTINCT FROM pr"
    "   AND text IS NOT DISTINCT FROM pt)),"
    " cl AS (SELECT conv_id, role, text,"
    "  CASE WHEN lag(role) OVER (PARTITION BY conv_id"
    "    ORDER BY turn_idx) = role THEN 1 ELSE 0 END AS viol,"
    "  md5(coalesce(text, '')) AS dig FROM kp),"
    " dc AS (SELECT dig,"
    "  CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS nc"
    "  FROM cl GROUP BY dig),"
    " fb AS (SELECT cl.conv_id, cl.viol,"
    "  CASE WHEN cl.role = 'assistant' THEN 1 ELSE 0 END AS a,"
    "  CASE WHEN cl.role = 'assistant' AND"
    f"   {_refusal_like_sql('cl.text')} THEN 1 ELSE 0 END AS r,"
    "  CASE WHEN dc.nc >= 5 THEN 1 ELSE 0 END AS b"
    "  FROM cl JOIN dc USING (dig)),"
    " ca AS (SELECT conv_id,"
    "  CAST(COUNT(*) AS BIGINT) AS ncl,"
    "  CAST(SUM(viol) AS BIGINT) AS nv,"
    "  CAST(SUM(a) AS BIGINT) AS na,"
    "  CAST(SUM(r) AS BIGINT) AS nr,"
    "  CAST(SUM(b) AS BIGINT) AS nbl"
    "  FROM fb GROUP BY conv_id),"
    " j AS (SELECT raw.conv_id, n_turns, n_blank,"
    "  COALESCE(ncl, 0) AS n_clean, COALESCE(nv, 0) AS nv,"
    "  COALESCE(na, 0) AS na, COALESCE(nr, 0) AS nr,"
    "  COALESCE(nbl, 0) AS nbl"
    "  FROM raw LEFT JOIN ca USING (conv_id)),"
    " sg AS (SELECT conv_id, n_turns, n_clean,"
    "  CAST(1000000 * n_blank // n_turns AS BIGINT) AS blank_e6,"
    "  CASE WHEN n_clean < 2 THEN NULL ELSE"
    "   CAST(1000000 * nv // (n_clean - 1) AS BIGINT) END"
    "   AS viol_e6,"
    "  CASE WHEN na = 0 THEN NULL ELSE"
    "   CAST(1000000 * nr // na AS BIGINT) END AS refusal_e6,"
    "  CASE WHEN n_clean = 0 THEN NULL ELSE"
    "   CAST(1000000 * nbl // n_clean AS BIGINT) END AS boiler_e6"
    "  FROM j)"
    " SELECT conv_id, n_turns, n_clean, blank_e6, viol_e6,"
    " refusal_e6, boiler_e6,"
    " CASE WHEN COALESCE(viol_e6, 0) > 400000"
    "   OR blank_e6 > 500000 THEN 'discard'"
    "  WHEN COALESCE(refusal_e6, 0) > 300000"
    "   OR COALESCE(boiler_e6, 0) > 300000 THEN 'low'"
    "  WHEN n_clean < 4 THEN 'mid'"
    "  ELSE 'high' END AS tier"
    " FROM sg"
)
def conversation_tiers(spark, sf):
    # transcript-axis quality funnel over the refusal-injected
    # corpus: retry blocks collapse, blank turns count raw-side,
    # role flips / blanked-turn removals create violations, the
    # retry text is 97-conv boilerplate
    return transcript.conversation_tiers(
        _non_ascii_blanks(_inject_refusals(_turns(spark, sf)))
    )


# shared turn-prefix forks: per-turn (role,text) digests in
# turn order, prefix digests to depth 8, count sharers per
# (plen, pdig), deepest shared prefix per conversation
@_query(
    "WITH " + _TURNS_SQL + ","
    " d AS (SELECT conv_id, turn_idx,"
    "  md5(coalesce(role, '') || chr(31) ||"
    "   coalesce(text, '')) AS dig FROM turns),"
    " a AS MATERIALIZED (SELECT conv_id,"
    "  list(dig ORDER BY turn_idx) AS digs"
    "  FROM d GROUP BY conv_id),"
    " pre AS MATERIALIZED (SELECT conv_id,"
    "  CAST(u.i AS INT) AS plen,"
    "  md5(array_to_string(digs[1:CAST(u.i AS INT)], ''))"
    "   AS pdig"
    "  FROM a, LATERAL unnest("
    "   range(1, least(8, len(digs)) + 1)) u(i)),"
    " c AS (SELECT plen, pdig,"
    "  CAST(COUNT(*) AS BIGINT) AS n"
    "  FROM pre GROUP BY plen, pdig),"
    " s AS (SELECT pre.conv_id, pre.plen, c.n FROM pre"
    "  JOIN c USING (plen, pdig) WHERE c.n >= 2),"
    " b AS (SELECT conv_id, MAX(plen) AS fd,"
    "  max_by(n, plen) AS fc FROM s GROUP BY conv_id)"
    " SELECT a.conv_id,"
    " CAST(COALESCE(b.fd, 0) AS INTEGER) AS fork_depth,"
    " CAST(COALESCE(b.fc, 0) AS BIGINT) AS fork_convs"
    " FROM a LEFT JOIN b USING (conv_id)"
)
def conversation_forks(spark, sf):
    # shared turn-prefix forks: the doc_id%19 blanking gives the
    # five user-role blank-turn-0 conversations a depth-1 fork;
    # everything else diverges immediately (distinct doc texts)
    return transcript.fork_prefixes(_turns(spark, sf))


# ChatML serialization: ordered string_agg of the per-turn
# parts; || would NULL-poison, hence coalesce on both engines
@_query(
    "WITH " + _TURNS_SQL + ","
    " p AS (SELECT conv_id, turn_idx,"
    "  '<|im_start|>' || coalesce(role, '') || chr(10) ||"
    "  coalesce(text, '') || '<|im_end|>' || chr(10) AS part"
    "  FROM turns),"
    " g AS (SELECT conv_id,"
    "  CAST(COUNT(*) AS BIGINT) AS n_turns,"
    "  string_agg(part, '' ORDER BY turn_idx) AS rendered"
    "  FROM p GROUP BY conv_id)"
    " SELECT conv_id, n_turns,"
    " CAST(length(rendered) AS BIGINT) AS n_chars, rendered"
    " FROM g"
)
def chat_template_render(spark, sf):
    # ChatML-style serialization: one training-ready string per
    # conversation, ordered concat inside the aggregate
    return transcript.render_chat(_turns(spark, sf))


# main-content extraction: the same jusText chain, kept
# paragraphs reassembled in document order; all-boilerplate
# docs emit '' (Spark's array_join over an empty array)
@_query(
    "WITH " + _JUSTEXT_SQL + ","
    " k AS (SELECT doc_id, para_idx, para_text,"
    "  (CASE WHEN cf_class IN ('good', 'bad') THEN cf_class"
    "   WHEN COALESCE(nb, FALSE) THEN 'good'"
    "   ELSE 'bad' END) = 'good' AS kept FROM g)"
    " SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,"
    " CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS n_kept,"
    " COALESCE(string_agg(para_text, chr(10) || chr(10)"
    "   ORDER BY para_idx) FILTER (WHERE kept), '')"
    "  AS main_text"
    " FROM k GROUP BY doc_id"
)
def main_content_extract(spark, sf):
    # the classifier composed into the op a crawl pipeline runs:
    # good paragraphs reassembled in order into per-doc main text
    return textops.main_content(_paras(spark, sf))


# truncation audit: shared injector CTE, shared per-turn flag
# SQL, last-assistant flag via the integer max-encoding
# max(turn_idx*2 + flag) so the argmax can't tie across engines
@_query(
    "WITH " + _TURNS_SQL + ","
    " inj AS (SELECT conv_id, turn_idx, role, "
    + _TRUNC_INJ_SQL
    + " AS text FROM turns),"
    " f AS (SELECT conv_id, turn_idx, role, text, "
    + _trunc_flag_sql()
    + " AS tr FROM inj)"
    " SELECT conv_id,"
    " CAST(COUNT(*) AS BIGINT) AS n_turns,"
    " CAST(SUM(CASE WHEN text = '' THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS n_empty,"
    " CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)"
    "  AS BIGINT) AS n_assistant,"
    " CAST(SUM(tr) AS BIGINT) AS n_truncated,"
    " CASE WHEN MAX(CASE WHEN role = 'assistant' AND text <> ''"
    "   THEN CAST(turn_idx AS BIGINT) * 2 + tr ELSE -1 END) < 0"
    "  THEN NULL ELSE MAX(CASE WHEN role = 'assistant'"
    "   AND text <> '' THEN CAST(turn_idx AS BIGINT) * 2 + tr"
    "   ELSE -1 END) % 2 = 1 END AS last_assistant_truncated"
    " FROM f GROUP BY conv_id"
)
def truncation_detect(spark, sf):
    # max-token / stop-sequence truncation audit over the shared
    # synthetic transcript frame; the injector (clean '.' endings
    # on turn%3=0, an unbalanced fence on assistant turn%4=1) is
    # shared verbatim with the oracle
    return transcript.audit_truncation(
        _turns(spark, sf).withColumn("text", F.expr(_TRUNC_INJ_SQL))
    )


# DOM-density block classification: same RE2-safe block /
# anchor regexes as the operator (textops.DOM_BLOCK_RE); the
# HTML synthesis fragments are shared module constants
@_query(
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts"
    "  FROM documents),"
    " h AS (SELECT doc_id,"
    f"  '{_DOM_PRE}' ||"
    "  COALESCE(array_to_string(ts[1:12], ' '), '') ||"
    f"  '{_DOM_MID1}' ||"
    "  COALESCE(array_to_string(ts[13:22], ' '), '') ||"
    f"  '{_DOM_MID2}' ||"
    "  COALESCE(array_to_string(ts[23:30], ' '), '') ||"
    f"  '{_DOM_POST}' AS html FROM t),"
    " e AS (SELECT doc_id, regexp_extract_all(html,"
    f"  '{_DOM_BLOCK_RE}', 1) AS blocks FROM h),"
    " b AS (SELECT doc_id, CAST(u.i - 1 AS INT) AS block_idx,"
    "  blocks[CAST(u.i AS INT)] AS blk FROM e,"
    "  LATERAL unnest(range(1, len(blocks) + 1)) u(i)),"
    " s AS (SELECT doc_id, block_idx,"
    "  CAST(length(regexp_replace(blk, '<[^>]*>', '', 'g'))"
    "   AS BIGINT) AS text_len,"
    f"  CAST(len(regexp_extract_all(blk, '{_DOM_ANCHOR_RE}',"
    "   1)) AS BIGINT) AS n_anchors,"
    "  CAST(1000000 * COALESCE(list_sum(list_transform("
    f"   regexp_extract_all(blk, '{_DOM_ANCHOR_RE}', 1),"
    "   x -> length(x))), 0)"
    "   // greatest(length(regexp_replace(blk, '<[^>]*>', '',"
    "    'g')), 1) AS BIGINT) AS link_e6,"
    "  regexp_replace(blk, '<[^>]*>', '', 'g') AS block_text"
    "  FROM b)"
    " SELECT doc_id, block_idx, text_len, n_anchors, link_e6,"
    f" (text_len >= {_DOM_MIN_TEXT}"
    f"  AND link_e6 <= {_DOM_MAX_LINK_E6}) AS kept,"
    " block_text FROM s"
)
def dom_density(spark, sf):
    # raw-HTML synthesis: nav div (anchor-only), a 12-token <p>,
    # a 10+8-token <p> with one inline anchor, a link-dense
    # footer; the block classifier must keep the content <p>s and
    # drop nav/footer (short docs degrade to all-dropped)
    d = _docs(spark, sf)
    ts = F.split(F.col("text"), " ")
    html = F.concat(
        F.lit(_DOM_PRE),
        F.concat_ws(" ", F.slice(ts, 1, 12)),
        F.lit(_DOM_MID1),
        F.concat_ws(" ", F.slice(ts, 13, 10)),
        F.lit(_DOM_MID2),
        F.concat_ws(" ", F.slice(ts, 23, 8)),
        F.lit(_DOM_POST),
    )
    return textops.dom_density_blocks(
        d.select("doc_id", html.alias("html"))
    )


# Hamilton-apportioned stratified eval split: HUGEINT quota
# math ≡ Spark decimal(38,0) DIV; md5(strat0:id) selection order
@_query(
    "WITH c AS (SELECT lang, source,"
    "  CAST(COUNT(*) AS BIGINT) AS n FROM documents"
    "  GROUP BY 1, 2),"
    " q0 AS (SELECT lang, source, n,"
    "  CAST(37 AS HUGEINT) * n AS big,"
    "  CAST(SUM(n) OVER () AS HUGEINT) AS tot FROM c),"
    " q1 AS (SELECT lang, source,"
    "  CAST(big // tot AS BIGINT) AS base,"
    "  big - (big // tot) * tot AS rem FROM q0),"
    " q2 AS (SELECT lang, source, base, rem,"
    "  37 - SUM(base) OVER () AS extra,"
    "  ROW_NUMBER() OVER (ORDER BY rem DESC, lang, source)"
    "   AS rn FROM q1),"
    " a AS (SELECT lang, source, CAST(base + CASE WHEN"
    "   rn <= extra THEN 1 ELSE 0 END AS BIGINT) AS quota"
    "  FROM q2),"
    " d AS (SELECT doc_id, lang, source,"
    "  md5('strat0:' || CAST(doc_id AS VARCHAR)) AS h"
    "  FROM documents),"
    " r AS (SELECT d.lang, d.source, d.doc_id, a.quota,"
    "  ROW_NUMBER() OVER (PARTITION BY d.lang, d.source"
    "   ORDER BY h, doc_id) AS eval_rank"
    "  FROM d JOIN a ON a.lang = d.lang AND a.source = d.source"
    "  WHERE a.quota > 0)"
    " SELECT lang, source, doc_id,"
    "  CAST(eval_rank AS INT) AS eval_rank, quota"
    " FROM r WHERE eval_rank <= quota"
)
def stratified_split(spark, sf):
    # exact-count stratified eval split: Hamilton apportionment of
    # a 37-doc budget across (lang, source) strata — all-integer
    # quotas, remainder seats by (rem desc, strata asc) — then the
    # two-phase md5(strat0:id)-ordered selection per stratum
    return textops.stratified_split(_docs(spark, sf))


# same round-trip contract as extract_grid — a borderless render
# must recover the identical cells via whitespace layout analysis
@_query(
    "SELECT doc_id,"
    " 'a=' || w[1] || '|b=' || w[2] || '|c=' || w[3] ||"
    " '|a=' || w[4] || '|b=' || w[5] || '|c=' || w[6] AS cells_text"
    " FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"
)
def extract_borderless(spark, sf):
    return xq.extract_borderless_query(_docs(spark, sf))


# two stacked tables (ruled over borderless, distinct headers)
# combine into one record stream in page order
@_query(
    "SELECT doc_id,"
    " 'a=' || w[1] || '|b=' || w[2] || '|c=' || w[3] ||"
    " '|d=' || w[4] || '|e=' || w[5] || '|f=' || w[6] AS cells_text"
    " FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"
)
def extract_multi_table(spark, sf):
    return xq.extract_multi_table_query(_docs(spark, sf))


# merged first data cell spans a+b: value repeats into BOTH
# columns; second data row unmerged
@_query(
    "SELECT doc_id,"
    " 'a=' || w[1] || '|b=' || w[1] || '|c=' || w[2] ||"
    " '|a=' || w[3] || '|b=' || w[4] || '|c=' || w[5] AS cells_text"
    " FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"
)
def extract_merged_cells(spark, sf):
    return xq.extract_merged_cells_query(_docs(spark, sf))


# subword tokenization: the literal merge table as a replace chain
@_query(
    "WITH t AS (SELECT doc_id, " + _BPE_TOKS + " AS toks"
    "  FROM documents),"
    " e AS (SELECT doc_id, u.i AS i, toks[u.i] AS token FROM t,"
    "  LATERAL unnest(range(1, len(toks) + 1)) u(i))"
    " SELECT e.doc_id, CAST(e.i - 1 AS INT) AS tok_pos, e.token,"
    "  CAST(COALESCE(v.id, -1) AS INT) AS token_id"
    " FROM e LEFT JOIN (VALUES " + bpe.oracle_vocab_values_sql() + ")"
    "  v(tok, id) ON v.tok = e.token"
)
def bpe_encode(spark, sf):
    return bpe.bpe_encode(_docs(spark, sf))


# pack_sequences on the BPE token axis
@_query(
    "WITH b AS (SELECT doc_id, doc_id % 64 AS shard,"
    "  CAST(len(" + _BPE_TOKS + ") AS BIGINT) AS n_tokens"
    "  FROM documents WHERE text IS NOT NULL),"
    " o AS (SELECT doc_id, shard, n_tokens,"
    "  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard"
    "   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND"
    "   1 PRECEDING), 0) AS BIGINT) AS start_off FROM b)"
    " SELECT doc_id, shard, n_tokens, start_off,"
    " CAST(floor(start_off / 512) AS BIGINT) AS seq_idx,"
    " CAST(start_off % 512 AS BIGINT) AS pos_in_seq FROM o"
)
def bpe_pack_sequences(spark, sf):
    # pack_sequences on the REAL subword token axis: same shard +
    # running-window packing, token counts from the BPE merge chain
    return textops.pack_sequences(
        _docs(spark, sf), token_count=bpe.bpe_token_count_expr("text")
    )


# tokenizer-compression signals: exact BIGINT floor division
# (DuckDB // == Spark DIV for non-negative operands); word axis
# = string_split on single spaces, matching Spark split();
# DuckDB strlen = UTF-8 BYTE length (== Spark octet_length)
@_query(
    "WITH b AS (SELECT doc_id,"
    "  CAST(strlen(text) AS BIGINT) AS n_bytes,"
    "  CAST(len(" + _BPE_TOKS + ") AS BIGINT) AS n_tokens,"
    "  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words"
    "  FROM documents WHERE text IS NOT NULL)"
    " SELECT doc_id, n_bytes, n_tokens, n_words,"
    " CAST(n_bytes * 1000000 // greatest(n_tokens, 1) AS BIGINT)"
    "  AS bytes_per_token_micro,"
    " CAST(n_tokens * 1000000 // greatest(n_words, 1) AS BIGINT)"
    "  AS tokens_per_word_micro"
    " FROM b"
)
def token_compression(spark, sf):
    # tokenizer-compression quality signals: UTF-8 bytes per BPE
    # token + tokens per whitespace word (fertility), exact BIGINT
    # floor division in micro-units — zero exchanges
    return bpe.token_compression(_docs(spark, sf))


# byte-capped resharding: the oracle replays the two-phase
# prefix sum as ONE global running sum in md5-key order (the
# Spark bucket is the key's first hex byte — a PREFIX — so
# bucket-then-key order IS global key order)
@_query(
    "WITH b AS (SELECT doc_id,"
    "  md5('reshard:' || CAST(doc_id AS VARCHAR)) AS key,"
    "  CAST(strlen(text) AS BIGINT) AS n_bytes"
    "  FROM documents WHERE text IS NOT NULL),"
    " o AS (SELECT doc_id, n_bytes,"
    "  CAST(COALESCE(SUM(n_bytes) OVER (ORDER BY key, doc_id"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
    "   AS BIGINT) AS start_off FROM b)"
    " SELECT doc_id, n_bytes, start_off,"
    " CAST(start_off // 65536 AS BIGINT) AS out_shard FROM o"
)
def reshard_by_bytes(spark, sf):
    # byte-capped export resharding: md5-ordered two-phase
    # distributed prefix sum (256 constant buckets), shard =
    # exclusive running offset DIV 64 KiB
    return textops.reshard_by_bytes(_docs(spark, sf))


# CCNet perplexity strata: the bigram-LM chain again, then
# tertile thresholds from the md5-TakeOrdered sample (rank =
# (score, doc_id), ceil(m/3) positions — integer-exact) applied
# to every doc; MATERIALIZED so the scored CTE runs once
@_query(
    "WITH toks AS (SELECT doc_id, string_split(text,' ') AS w"
    "  FROM documents),"
    " pairs AS (SELECT doc_id,"
    "  unnest(list_transform(range(1, len(w)),"
    "   i -> w[CAST(i AS INT)])) AS w1,"
    "  unnest(list_transform(range(1, len(w)),"
    "   i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1])) AS bg"
    "  FROM toks WHERE len(w) >= 2),"
    " c1 AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY w1),"
    " c2 AS (SELECT bg, COUNT(*) AS c2 FROM pairs GROUP BY bg),"
    " agg AS (SELECT doc_id, COUNT(*) AS n,"
    "  SUM((1000000 * c2.c2) // c1.c1) AS s"
    "  FROM pairs JOIN c2 USING (bg) JOIN c1 USING (w1)"
    "  GROUP BY doc_id),"
    " sc AS MATERIALIZED (SELECT d.doc_id,"
    "  CAST(COALESCE(n, 0) AS BIGINT) AS n_bigrams,"
    "  CAST(COALESCE(s // n, 0) AS BIGINT) AS lm_score_micro"
    "  FROM documents d LEFT JOIN agg USING (doc_id)),"
    " samp AS (SELECT lm_score_micro, doc_id FROM sc"
    "  ORDER BY md5('ppl:' || CAST(doc_id AS VARCHAR))"
    "  LIMIT 4096),"
    " r AS (SELECT lm_score_micro AS sv,"
    "  ROW_NUMBER() OVER (ORDER BY lm_score_micro, doc_id) AS rn,"
    "  COUNT(*) OVER () AS m FROM samp),"
    " t AS (SELECT"
    "  MAX(CASE WHEN rn = CAST(ceil(m / 3.0) AS BIGINT)"
    "   THEN sv END) AS t_low,"
    "  MAX(CASE WHEN rn = CAST(ceil(2 * m / 3.0) AS BIGINT)"
    "   THEN sv END) AS t_high FROM r)"
    " SELECT doc_id, n_bigrams, lm_score_micro,"
    " CAST(t_low AS BIGINT) AS t_low_micro,"
    " CAST(t_high AS BIGINT) AS t_high_micro,"
    " CASE WHEN lm_score_micro > t_high THEN 'head'"
    "  WHEN lm_score_micro > t_low THEN 'middle'"
    "  ELSE 'tail' END AS ppl_bucket"
    " FROM sc, t"
)
def lm_perplexity_buckets(spark, sf):
    # CCNet head/middle/tail strata: bigram-LM fluency tertiles
    # trained on a bounded md5-TakeOrdered sample, applied as
    # broadcast literal thresholds
    return textops.lm_perplexity_buckets(_docs(spark, sf))


#: url_extract's link injection by doc_id%3 (none / one clean URL / one
#: blocklisted + one clean); link_pagerank and link_hits link every doc's
#: synthetic host to the domains its text names
_LINK_TEXT = (
    "CASE WHEN doc_id % 3 = 1 THEN text || ' see http://h'"
    " || CAST(doc_id % 50 AS STRING) || '.example.com/p now'"
    " WHEN doc_id % 3 = 2 THEN text || ' via https://cdn'"
    " || CAST(doc_id % 9 AS STRING)"
    " || '.tracker.net/x and http://ok.example.com/y'"
    " ELSE text END"
)
_LINK_SRC = "'site' || CAST(doc_id % 40 AS STRING) || '.example.com' AS src"
_LINK_EDGES_SQL = (
    f"SELECT DISTINCT {_LINK_SRC}, dom AS dst FROM"
    " (SELECT doc_id, unnest(list_transform("
    "   regexp_extract_all(t, 'https?://[a-z0-9./_-]+'),"
    "   u -> regexp_extract(u, 'https?://([a-z0-9.-]+)', 1)))"
    f"   AS dom FROM (SELECT doc_id, {_LINK_TEXT} AS t FROM documents) it)"
)


def _link_edges(spark, sf):
    """(src, dst) domain-graph edges of the link injection"""
    urls = "regexp_extract_all(t, 'https?://[a-z0-9./_-]+', 0)"
    doms = f"transform({urls}, u -> regexp_extract(u, 'https?://([a-z0-9.-]+)', 1))"
    inj = _docs(spark, sf).selectExpr("doc_id", f"{_LINK_TEXT} AS t")
    return inj.selectExpr(_LINK_SRC, f"explode({doms}) AS dst")


# domain-graph PageRank: edge injection replayed in DuckDB RE2,
# then 3 unrolled integer power iterations (// == Spark div)
@_query(graph.oracle_pagerank_sql(_LINK_EDGES_SQL))
def link_pagerank(spark, sf):
    # 3 integer micro-unit power iterations, oracle-unrolled
    return graph.pagerank(_link_edges(spark, sf))


#: cdc_chunk_dedup's planted duplicates: docs with doc_id%7==0 share one
#: payload (guaranteed cross-doc duplicate chunks)
_CDC_INJ = f"CASE WHEN doc_id % 7 = 0 THEN '{_CDC_SHARED_TEXT}' ELSE text END AS text"


# content-defined chunking: boundary = md5 byte0 % 16 of the
# 4-token rolling window (md5_number ≡ conv-substring parity);
# chunk hash = md5 of the space-joined slice; keep-first rank
@_query(
    f"WITH inj AS (SELECT doc_id, {_CDC_INJ} FROM documents),"
    " t AS (SELECT doc_id, string_split(text, ' ') AS w"
    "  FROM inj WHERE text IS NOT NULL),"
    " c AS (SELECT doc_id, w,"
    "  list_filter(range(2, len(w) - 2),"
    "   i -> ((md5_number(array_to_string("
    "    list_slice(w, i, i + 3), ' ')) % 16) + 16) % 16 = 0)"
    "   AS cuts FROM t),"
    " s AS (SELECT doc_id, w, list_prepend(1, cuts) AS ss,"
    "  list_append(cuts, len(w) + 1) AS ee FROM c),"
    " ch AS (SELECT doc_id, CAST(u.i - 1 AS INT) AS chunk_idx,"
    "  CAST(ss[u.i] AS INT) AS start_tok,"
    "  CAST(ee[u.i] - ss[u.i] AS BIGINT) AS n_chunk_tokens,"
    "  md5(array_to_string(list_slice(w, CAST(ss[u.i] AS INT),"
    "   CAST(ee[u.i] AS INT) - 1), ' ')) AS chunk_hash"
    "  FROM s, LATERAL unnest(range(1, len(ss) + 1)) u(i))"
    " SELECT doc_id, chunk_idx, start_tok, n_chunk_tokens,"
    " chunk_hash,"
    " CAST(COUNT(*) OVER (PARTITION BY chunk_hash) AS BIGINT)"
    "  AS n_dup,"
    " ROW_NUMBER() OVER (PARTITION BY chunk_hash"
    "  ORDER BY doc_id, chunk_idx) = 1 AS is_first"
    " FROM ch"
)
def cdc_chunk_dedup(spark, sf):
    # boundaries from the rolling md5 window, per-hash corpus counts
    return textops.cdc_chunk_dedup(_docs(spark, sf).selectExpr("doc_id", _CDC_INJ))


# three-step funnel: first-by-(ts,event_id) per step, strictly
# after the previous step's anchor; only IDs/flags exported so
# no timestamp-epoch semantics cross engines
@_query(
    "WITH v AS (SELECT user_id, ts, event_id FROM ("
    "  SELECT user_id, ts, event_id, ROW_NUMBER() OVER ("
    "   PARTITION BY user_id ORDER BY ts, event_id) AS rn"
    "  FROM events WHERE event_type = 'view') WHERE rn = 1),"
    " c AS (SELECT user_id, ts, event_id FROM ("
    "  SELECT e.user_id, e.ts, e.event_id, ROW_NUMBER() OVER ("
    "   PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn"
    "  FROM events e JOIN v ON v.user_id = e.user_id"
    "   AND (e.ts > v.ts OR (e.ts = v.ts"
    "        AND e.event_id > v.event_id))"
    "  WHERE e.event_type = 'click') WHERE rn = 1),"
    " p AS (SELECT user_id, ts, event_id FROM ("
    "  SELECT e.user_id, e.ts, e.event_id, ROW_NUMBER() OVER ("
    "   PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn"
    "  FROM events e JOIN c ON c.user_id = e.user_id"
    "   AND (e.ts > c.ts OR (e.ts = c.ts"
    "        AND e.event_id > c.event_id))"
    "  WHERE e.event_type = 'purchase') WHERE rn = 1)"
    " SELECT v.user_id, v.event_id AS view_id,"
    " CAST(COALESCE(c.event_id, -1) AS BIGINT) AS click_id,"
    " CAST(COALESCE(p.event_id, -1) AS BIGINT) AS purchase_id,"
    " c.user_id IS NOT NULL AS reached_click,"
    " p.user_id IS NOT NULL AS reached_purchase"
    " FROM v LEFT JOIN c ON c.user_id = v.user_id"
    " LEFT JOIN p ON p.user_id = v.user_id"
)
def event_funnel(spark, sf):
    # view → click → purchase conversion: first-step events by
    # (ts, event_id) lexicographic order, strictly-after anchoring,
    # only event IDs and flags exported (no raw timestamps)
    return relational.event_funnel(_tbl(spark, sf, "events"))


# exact ANALYZE stats per column (COUNT DISTINCT ignores NULLs
# in both engines)
@_query(
    " UNION ALL ".join(
        "SELECT '{c}' AS column_name,"
        " (SELECT COUNT(*) FROM documents) AS n_rows,"
        " CAST(COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS BIGINT)"
        "  AS n_null,"
        " CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct"
        " FROM documents".format(c=c)
        for c in ("doc_id", "text", "lang", "source")
    )
)
def profile_table(spark, sf):
    # ANALYZE-style stats over documents: one agg job (exact
    # multi-distinct via Expand; approx-HLL is the 100 TB swap),
    # exploded to per-column rows
    return relational.profile_table(
        _docs(spark, sf), ["doc_id", "text", "lang", "source"]
    )


#: cross_snapshot_fuzzy's prior release (docs with doc_id%3==0): half of
#: them carry an appended footer, so exact digests MISS but the MinHash
#: bands still collide
_PRIOR_TEXT = (
    "CASE WHEN doc_id % 6 = 0 THEN text ELSE text || ' vnminus1 suffix' END AS text"
)


# fuzzy cross-snapshot: BOTH snapshots through the 16×4 minhash
# banding (prior = doc_id%3==0, half with an appended footer so
# exact digests miss), band join between releases
@_query(
    f"WITH prior AS (SELECT doc_id, {_PRIOR_TEXT} FROM documents WHERE doc_id % 3 = 0),"
    " shc AS MATERIALIZED (SELECT doc_id, " + _SH_SENTINEL
    + " AS s FROM documents),"
    " shp AS MATERIALIZED (SELECT doc_id, " + _SH_SENTINEL
    + " AS s FROM prior),"
    f" sigc AS MATERIALIZED (SELECT doc_id, {_MINHASH_COLS}"
    " FROM shc),"
    f" sigp AS MATERIALIZED (SELECT doc_id, {_MINHASH_COLS}"
    " FROM shp),"
    " bc AS (" + _BANDS_16x4.replace("FROM sig", "FROM sigc")
    + "),"
    " bp AS (" + _BANDS_16x4.replace("FROM sig", "FROM sigp")
    + "),"
    " pairs AS (SELECT DISTINCT bc.doc_id AS doc_id,"
    "  bp.doc_id AS prior_id FROM bc JOIN bp"
    "  ON bc.band_idx = bp.band_idx"
    "  AND bc.band_key = bp.band_key),"
    " agg AS (SELECT doc_id, COUNT(*) AS n, MIN(prior_id) AS m"
    "  FROM pairs GROUP BY doc_id)"
    " SELECT d.doc_id, agg.doc_id IS NOT NULL AS fuzzy_in_prior,"
    " CAST(COALESCE(n, 0) AS BIGINT) AS n_prior_candidates,"
    " CAST(COALESCE(m, -1) AS BIGINT) AS min_prior_id"
    " FROM documents d LEFT JOIN agg USING (doc_id)"
)
def cross_snapshot_fuzzy(spark, sf):
    d = _docs(spark, sf)
    prior = d.filter("doc_id % 3 = 0").selectExpr("doc_id", _PRIOR_TEXT)
    return dedup.cross_snapshot_fuzzy(d, prior)


# Morton layout code: the same spread-stage generator renders
# DuckDB's << where Spark used shiftleft — identical constants
@_query(
    "SELECT doc_id, CAST(doc_id AS BIGINT) AS d1,"
    " CAST(n_chars AS BIGINT) AS d2,"
    " CAST({z} AS BIGINT) AS zval,"
    " CAST({z} // {div} AS BIGINT) AS zfile"
    " FROM documents".format(
        z=relational.zorder_zval_sql(
            "CAST(doc_id AS BIGINT)",
            "CAST(n_chars AS BIGINT)",
            lambda x, s: f"(({x}) << {s})",
        ),
        div=1 << 20,
    )
)
def zorder_layout(spark, sf):
    # OPTIMIZE ZORDER analog: Morton code of (doc_id, n_chars),
    # pure JVM bit arithmetic, zero exchanges
    return relational.zorder_layout(_docs(spark, sf))


# BPE training replay: 6 unrolled MATERIALIZED stages (pair
# count -> argmax -> doubled replace via the 1-row best table)
@_query(bpe.oracle_bpe_train_sql())
def bpe_train(spark, sf):
    # BPE merge-table TRAINING: 6 unrolled corpus argmax-merge
    # iterations (count desc, pair asc tie-break; self-pairs
    # excluded), each best pair collected (1 bounded row) and
    # applied as a literal replace — oracle unrolls the same stages
    return bpe.bpe_train(_docs(spark, sf))


# end-to-end manifest: gopher pass (raw text, no injection) →
# md5 train membership (u < 0.98) → BPE token counts → the
# per-shard packing window — one composed replay
@_query(
    "WITH base AS (SELECT doc_id, text FROM documents"
    "  WHERE text IS NOT NULL),"
    " b AS (SELECT doc_id, text, text AS t,"
    "  string_split(text,' ') AS w,"
    "  string_split(text, chr(10)) AS l FROM base),"
    f" g AS (SELECT doc_id, text FROM b WHERE {_G_PASS}),"
    " s AS (SELECT doc_id, text FROM g WHERE"
    "  (((md5_number('split0:' || CAST(doc_id AS VARCHAR))"
    "     % 4294967296) + 4294967296) % 4294967296)::DOUBLE"
    "   / 4294967296.0 < 0.98),"
    " k AS (SELECT doc_id, doc_id % 64 AS shard,"
    "  CAST(len(" + _BPE_TOKS + ") AS BIGINT) AS n_tokens"
    "  FROM s),"
    " o AS (SELECT doc_id, shard, n_tokens,"
    "  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard"
    "   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND"
    "   1 PRECEDING), 0) AS BIGINT) AS start_off FROM k)"
    " SELECT doc_id, shard, n_tokens, start_off,"
    " CAST(floor(start_off / 512) AS BIGINT) AS seq_idx,"
    " CAST(start_off % 512 AS BIGINT) AS pos_in_seq FROM o"
)
def training_manifest(spark, sf):
    # end-to-end manifest: Gopher filter -> md5 train split -> BPE
    # token counts -> packed-sequence layout, one declarative plan
    return textops.training_manifest(_docs(spark, sf))


# cohort retention: distinct activity days, first-day cohorts,
# exact integer micro-unit fractions
@_query(
    "WITH days AS (SELECT DISTINCT user_id,"
    "  CAST(ts AS DATE) AS day FROM events),"
    " f AS (SELECT user_id, MIN(day) AS cohort_day FROM days"
    "  GROUP BY user_id),"
    " act AS (SELECT f.cohort_day,"
    "  date_diff('day', f.cohort_day, d.day) AS day_offset,"
    "  d.user_id FROM days d JOIN f USING (user_id)),"
    " mat AS (SELECT cohort_day, day_offset,"
    "  CAST(COUNT(*) AS BIGINT) AS n_active FROM act"
    "  GROUP BY 1, 2),"
    " cs AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT)"
    "  AS cohort_size FROM f GROUP BY 1)"
    " SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,"
    " n_active, cohort_size,"
    " CAST(n_active * 1000000 // cohort_size AS BIGINT)"
    "  AS retention_micro"
    " FROM mat JOIN cs USING (cohort_day)"
)
def event_retention(spark, sf):
    # cohort retention matrix: first-event-day cohorts x day
    # offsets, exact integer retention fractions
    return relational.event_retention(_tbl(spark, sf, "events"))


# energy segmentation: same md5-exact samples, voiced frames
# |val| >= 16384, islands via i - ROW_NUMBER per clip
@_query(
    "WITH m AS (SELECT vec_id, CAST(vec_id % 40 + 8 AS BIGINT) AS n"
    "  FROM embeddings WHERE vec_id < 200),"
    " s AS (SELECT m.vec_id, u.i AS i"
    "  FROM m, LATERAL unnest(range(0, m.n)) u(i)),"
    " b AS (SELECT vec_id, i, "
    + _MD5_BYTE.format(key="'wav:'", b="(2*i)")
    + " AS lo, "
    + _MD5_BYTE.format(key="'wav:'", b="(2*i+1)")
    + " AS hi FROM s),"
    " v AS (SELECT vec_id, i, ABS(CASE WHEN lo + 256*hi >= 32768"
    "  THEN lo + 256*hi - 65536 ELSE lo + 256*hi END) AS a FROM b),"
    " vo AS (SELECT vec_id, i, a FROM v WHERE a >= 16384),"
    " isl AS (SELECT vec_id, i, a, i - ROW_NUMBER() OVER ("
    "  PARTITION BY vec_id ORDER BY i) AS g FROM vo),"
    " seg AS (SELECT vec_id, MIN(i) AS start_frame,"
    "  COUNT(*) AS n_frames, MAX(a) AS peak_abs"
    "  FROM isl GROUP BY vec_id, g)"
    " SELECT vec_id, CAST(ROW_NUMBER() OVER (PARTITION BY vec_id"
    "  ORDER BY start_frame) - 1 AS INT) AS seg_idx,"
    " CAST(start_frame AS INT) AS start_frame,"
    " CAST(n_frames AS BIGINT) AS n_frames,"
    " CAST(peak_abs AS BIGINT) AS peak_abs FROM seg"
)
def multimodal_audio_segments(spark, sf):
    # VAD-shaped energy segmentation over the same exact-sample WAV
    # fixture: contiguous |s| >= 16384 runs, gaps-and-islands oracle
    return multimodal.audio_segments(_wav_fixture(spark, sf))


# scene cuts: means are (vec_id*7 + 13f) % 256, so a cut fires
# exactly where the value wraps (|delta| = 243 >= 100)
@_query(
    "WITH e AS (SELECT vec_id, CAST(vec_id % 4 + 2 AS BIGINT)"
    "  AS nf FROM embeddings WHERE vec_id < 150),"
    " fr AS (SELECT vec_id, nf, u.f AS f,"
    "  (vec_id * 7 + u.f * 13) % 256 AS m"
    "  FROM e, LATERAL unnest(range(0, nf)) u(f)),"
    " d AS (SELECT vec_id, f, nf, ABS(m - LAG(m) OVER ("
    "  PARTITION BY vec_id ORDER BY f)) AS delta FROM fr)"
    " SELECT vec_id, CAST(f AS INT) AS frame_idx,"
    " CAST(delta AS BIGINT) AS delta_abs,"
    " CAST(nf AS BIGINT) AS n_frames"
    " FROM d WHERE delta >= 100"
)
def multimodal_video_cuts(spark, sf):
    # scene cuts: EVERY frame decoded, cut where the mean-pixel jump
    # wraps past the threshold; LAG-window arithmetic oracle
    return multimodal.video_scene_cuts(_mjpeg_fixture(spark, sf))


# transcript SFT funnel composed end-to-end: clean (lag window)
# -> role-run merge (change counter) -> arg_min/bool_or gate ->
# ordered ChatML string_agg -> md5_number train split ->
# md5-low-byte shard + running-sum packing
@_query(
    "WITH " + _TURNS_SQL + ","
    " nb AS (SELECT conv_id, turn_idx, role, text FROM turns"
    f"  WHERE NOT {_blank_sql('text')}),"
    " lg AS (SELECT conv_id, turn_idx, role, text,"
    "  lag(role) OVER w AS pr, lag(text) OVER w AS pt FROM nb"
    "  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),"
    " kp AS (SELECT conv_id, turn_idx, role, text FROM lg"
    "  WHERE NOT (role IS NOT DISTINCT FROM pr"
    "   AND text IS NOT DISTINCT FROM pt)),"
    " l2 AS (SELECT conv_id, turn_idx, role, text,"
    "  CASE WHEN turn_idx = MIN(turn_idx) OVER"
    "    (PARTITION BY conv_id) THEN 1"
    "   WHEN lag(role) OVER (PARTITION BY conv_id"
    "    ORDER BY turn_idx) IS DISTINCT FROM role THEN 1"
    "   ELSE 0 END AS chg FROM kp),"
    " r2 AS (SELECT conv_id, turn_idx, role, text,"
    "  SUM(chg) OVER (PARTITION BY conv_id ORDER BY turn_idx)"
    "   AS run FROM l2),"
    " mg AS (SELECT conv_id, run, MIN(role) AS role,"
    "  string_agg(coalesce(text, ''), chr(10)"
    "   ORDER BY turn_idx) AS text FROM r2"
    "  GROUP BY conv_id, run),"
    " gt AS (SELECT conv_id FROM mg GROUP BY conv_id"
    "  HAVING arg_min(coalesce(role, ''), run) = 'user'"
    "   AND bool_or(role = 'assistant')),"
    " rd AS (SELECT conv_id,"
    "  string_agg('<|im_start|>' || coalesce(role, '') || chr(10)"
    "   || coalesce(text, '') || '<|im_end|>' || chr(10), ''"
    "   ORDER BY run) AS rendered"
    "  FROM mg JOIN gt USING (conv_id) GROUP BY conv_id),"
    " tr AS (SELECT conv_id, rendered FROM rd WHERE"
    "  (((md5_number('split0:' || conv_id) % 4294967296)"
    "    + 4294967296) % 4294967296)::DOUBLE"
    f"   / 4294967296.0 < {_SPLIT_FRACS[0]}),"
    " k AS (SELECT conv_id,"
    f"  CAST(((md5_number(conv_id) % {_SFT_SHARDS})"
    f"    + {_SFT_SHARDS}) % {_SFT_SHARDS} AS INT)"
    "   AS shard,"
    f"  CAST(CASE WHEN {_blank_sql('rendered')} THEN 0"
    "   ELSE len(string_split(rendered, ' ')) END AS BIGINT)"
    "   AS n_tokens FROM tr),"
    " o AS (SELECT conv_id, shard, n_tokens,"
    "  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard"
    "   ORDER BY conv_id ROWS BETWEEN UNBOUNDED PRECEDING AND"
    "   1 PRECEDING), 0) AS BIGINT) AS start_off FROM k)"
    " SELECT conv_id, shard, n_tokens, start_off,"
    f" CAST(start_off // {_SFT_BUDGET} AS BIGINT)"
    "  AS seq_idx,"
    f" CAST(start_off % {_SFT_BUDGET} AS BIGINT)"
    "  AS pos_in_seq FROM o"
)
def sft_manifest(spark, sf):
    # transcript-axis training_manifest: clean -> role-merge ->
    # user-first+has-assistant gate -> ChatML render -> md5 train
    # split -> md5-low-byte-sharded packed-sequence layout
    return transcript.sft_manifest(_turns(spark, sf))


# transcript eval-leak audit: per-side boilerplate mask (digest
# counts over >= 5 distinct convs), ChatML render, rendered
# 5-gram overlap vs the ev_ clone set
@_query(
    "WITH " + _NBSP_TURNS_SQL + ","
    " ev AS (SELECT 'ev_' || substr(conv_id, 6, 4) AS conv_id,"
    "  turn_idx, role, text FROM turns"
    "  WHERE CAST(substr(conv_id, 6, 4) AS INT) % 13 = 0),"
    " cmask AS (SELECT md5(coalesce(text, '')) AS dig,"
    "  COUNT(DISTINCT conv_id) AS nc FROM turns"
    f"  WHERE NOT {_BLANK_NULL_TEXT} GROUP BY 1),"
    " ckept AS (SELECT t.conv_id, t.turn_idx, t.role, t.text"
    "  FROM turns t LEFT JOIN cmask m"
    "   ON m.dig = md5(coalesce(t.text, ''))"
    "  WHERE COALESCE(m.nc, 0) < 5),"
    " crend AS (SELECT conv_id, string_agg('<|im_start|>' || coalesce(role, '') || chr(10) || coalesce(text, '') || '<|im_end|>' || chr(10), '' ORDER BY turn_idx) AS text"
    "  FROM ckept GROUP BY conv_id),"
    " emask AS (SELECT md5(coalesce(text, '')) AS dig,"
    "  COUNT(DISTINCT conv_id) AS nc FROM ev"
    f"  WHERE NOT {_BLANK_NULL_TEXT} GROUP BY 1),"
    " ekept AS (SELECT t.conv_id, t.turn_idx, t.role, t.text"
    "  FROM ev t LEFT JOIN emask m"
    "   ON m.dig = md5(coalesce(t.text, ''))"
    "  WHERE COALESCE(m.nc, 0) < 5),"
    " erend AS (SELECT conv_id, string_agg('<|im_start|>' || coalesce(role, '') || chr(10) || coalesce(text, '') || '<|im_end|>' || chr(10), '' ORDER BY turn_idx) AS text"
    "  FROM ekept GROUP BY conv_id),"
    " g AS (SELECT conv_id, CASE WHEN len(string_split(text, ' ')) < 5 THEN CAST([] AS VARCHAR[]) ELSE list_distinct(list_transform(  range(1, len(string_split(text, ' ')) - 3),  i -> array_to_string(list_slice(string_split(text, ' '),   i, i + 4), ' '))) END AS grams FROM crend),"
    " bench AS (SELECT DISTINCT unnest(CASE WHEN len(string_split(text, ' ')) < 5 THEN CAST([] AS VARCHAR[]) ELSE list_distinct(list_transform(  range(1, len(string_split(text, ' ')) - 3),  i -> array_to_string(list_slice(string_split(text, ' '),   i, i + 4), ' '))) END) AS gram"
    "  FROM erend),"
    " dg AS (SELECT conv_id, unnest(grams) AS gram FROM g),"
    " hits AS (SELECT conv_id, COUNT(*) AS n_hit FROM dg"
    "  JOIN bench USING (gram) GROUP BY conv_id)"
    " SELECT g.conv_id, CAST(len(grams) AS BIGINT) AS n_grams,"
    " CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_contaminated,"
    " COALESCE(n_hit, 0) > 0 AS contaminated"
    " FROM g LEFT JOIN hits USING (conv_id)"
)
def transcript_decontaminate(spark, sf):
    # eval-leak audit: ev_ clones of the %13 conversations play the
    # eval set (texts unchanged); boilerplate masking FIRST (retry
    # banners recur corpus-wide and would flag everything), then
    # rendered 5-gram overlap — the %13 originals must flag, the
    # rest must not
    t = _non_ascii_blanks(_turns(spark, sf))
    cnum = F.substring("conv_id", 6, 4).cast("int")
    ev = t.filter(cnum % 13 == 0).select(
        F.concat(F.lit("ev_"), F.substring("conv_id", 6, 4)).alias(
            "conv_id"
        ),
        "turn_idx",
        "role",
        "text",
    )
    return transcript.decontaminate_conversations(t, ev)


# same round-trip contract again — an UNDECLARED quarter turn
# baked into the pixels must auto-detect and recover the words
@_query(
    "SELECT doc_id,"
    " 'a=' || w[1] || '|b=' || w[2] || '|c=' || w[3] ||"
    " '|a=' || w[4] || '|b=' || w[5] || '|c=' || w[6] AS cells_text"
    " FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"
)
def extract_autorotate(spark, sf):
    # undeclared scan orientation: the doc_id quarter turn is baked
    # into the pixels with a rot=0 header; detect_orientation must
    # recover the upright page before layout analysis
    return xq.extract_autorotate_query(_docs(spark, sf))


# Arrow IPC interchange: read-back order = serialized order =
# id-sorted within the shard — same per-shard ROW_NUMBER replay
# as the ORC container
@_query(
    "SELECT doc_id, CAST(doc_id % 32 AS BIGINT) AS shard,"
    " CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % 32"
    "  ORDER BY doc_id) - 1 AS BIGINT) AS row_idx,"
    " CAST(COUNT(*) OVER (PARTITION BY doc_id % 32) AS BIGINT)"
    "  AS n_in_shard,"
    " lang, source, text FROM documents"
)
def arrow_ipc_roundtrip(spark, sf):
    # Arrow IPC (Feather v2) interchange: serialize 32 in-memory
    # Arrow streams (schema message + record batches) and read them
    # back in the same grouped-map stage — id, shard, read-back row
    # order, and all payload fields recovered from the stream
    return src.arrow_ipc_roundtrip(_docs(spark, sf))


# jusText-style boilerplate: identical 12-token paragraph
# slicing + link injection, integer class thresholds, and the
# one-step neighbour propagation (NULL lag/lead coalesced to
# FALSE on both engines); p/f/c are multi-referenced ->
# MATERIALIZED per the CTE-inlining trap
@_query(
    "WITH " + _JUSTEXT_SQL +
    " SELECT doc_id, para_idx, n_words, stop_words, link_words,"
    " cf_class,"
    " CASE WHEN cf_class IN ('good', 'bad') THEN cf_class"
    "  WHEN COALESCE(nb, FALSE) THEN 'good'"
    "  ELSE 'bad' END AS final_class,"
    " (CASE WHEN cf_class IN ('good', 'bad') THEN cf_class"
    "  WHEN COALESCE(nb, FALSE) THEN 'good'"
    "  ELSE 'bad' END) = 'good' AS kept"
    " FROM g"
)
def boilerplate_classify(spark, sf):
    return textops.boilerplate_classify(_paras(spark, sf))


# inverted index: identical (token, doc) tf aggregation,
# hapax + >half-corpus pruning against the 1-row count, and
# the ascending posting-list head
#: inverted_index's extra terms: the synthetic vocabulary is ~30
#: near-universal words (all fall to the >half-corpus stop cut), so each
#: doc also carries a mid-frequency topic_<id%37> and a rare ent_<id%211>
#: term; the surviving index spans both bands while hapax terms and
#: stop-terms still exercise both pruning rules
_TERMS_TEXT = (
    "text || ' topic_' || CAST(doc_id % 37 AS STRING)"
    " || ' ent_' || CAST(doc_id % 211 AS STRING) AS text"
)


@_query(
    f"WITH d AS (SELECT doc_id, {_TERMS_TEXT} FROM documents),"
    " tok AS (SELECT doc_id,"
    "  unnest(string_split(text, ' ')) AS token FROM d),"
    " tf AS (SELECT token, doc_id,"
    "  CAST(COUNT(*) AS BIGINT) AS tf"
    "  FROM tok GROUP BY token, doc_id),"
    " n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs"
    "  FROM documents)"
    " SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq,"
    " CAST(SUM(tf) AS BIGINT) AS total_tf,"
    " array_to_string(list_transform("
    "  (list(doc_id ORDER BY doc_id))[1:8],"
    "  x -> CAST(x AS VARCHAR)), ',') AS postings_head"
    " FROM tf, n GROUP BY token, n.n_docs"
    " HAVING COUNT(*) >= 2 AND COUNT(*) * 2 <= n.n_docs"
)
def inverted_index(spark, sf):
    # term -> (df, total tf, ascending posting-list head)
    return textops.inverted_index(_docs(spark, sf).selectExpr("doc_id", _TERMS_TEXT))


# filter ablation: the gopher predicate (_G_PASS over b's t/w/l
# aliases), the ngram_lm_score corpus chain, and the classifier
# logit composed verbatim, then one CUBE with explicit
# GROUPING() bits (Spark's grouping_id bit order replayed)
@_query(
    "WITH base AS (SELECT doc_id, text FROM documents"
    "  WHERE text IS NOT NULL),"
    " b AS (SELECT doc_id, text AS t,"
    "  string_split(text, ' ') AS w,"
    "  string_split(text, chr(10)) AS l FROM base),"
    f" g AS (SELECT doc_id, {_G_PASS} AS gopher_pass FROM b),"
    " toks AS (SELECT doc_id, string_split(text,' ') AS w"
    "  FROM base),"
    " pairs AS (SELECT doc_id,"
    "  unnest(list_transform(range(1, len(w)),"
    "   i -> w[CAST(i AS INT)])) AS w1,"
    "  unnest(list_transform(range(1, len(w)),"
    "   i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1]))"
    "   AS bg"
    "  FROM toks WHERE len(w) >= 2),"
    " c1 AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY w1),"
    " c2 AS (SELECT bg, COUNT(*) AS c2 FROM pairs GROUP BY bg),"
    " agg AS (SELECT doc_id, COUNT(*) AS n,"
    "  SUM((1000000 * c2.c2) // c1.c1) AS s"
    "  FROM pairs JOIN c2 USING (bg) JOIN c1 USING (w1)"
    "  GROUP BY doc_id),"
    " lm AS (SELECT base.doc_id,"
    "  COALESCE(s // n, 0) >= 20000 AS is_fluent"
    "  FROM base LEFT JOIN agg USING (doc_id)),"
    " clf AS (SELECT doc_id,"
    "  CAST(len(ts) AS BIGINT) AS n_tokens,"
    f"  CAST({_CLF_BIAS} + COALESCE(list_sum(list_transform(ts,"
    f"   t -> ({_CLF_W_LIST})["
    "    CAST(((md5_number(t) % 64) + 64) % 64 AS INT) + 1])), 0)"
    "   AS BIGINT) > 0 AS clf_label"
    "  FROM (SELECT doc_id, string_split(text, ' ') AS ts"
    "   FROM base)),"
    " j AS (SELECT g.gopher_pass, lm.is_fluent, clf.clf_label,"
    "  clf.n_tokens FROM g JOIN lm USING (doc_id)"
    "  JOIN clf USING (doc_id))"
    " SELECT gopher_pass, is_fluent, clf_label,"
    " CAST(GROUPING(gopher_pass) * 4 + GROUPING(is_fluent) * 2"
    "  + GROUPING(clf_label) AS BIGINT) AS lvl,"
    " CAST(COUNT(*) AS BIGINT) AS n_docs,"
    " CAST(SUM(n_tokens) AS BIGINT) AS n_tokens"
    " FROM j GROUP BY CUBE (gopher_pass, is_fluent, clf_label)"
)
def filter_ablation(spark, sf):
    # per-CUBE-cell doc/token counts over the three quality
    # signals (gopher x bigram-LM x classifier) — the threshold
    # commit report
    return textops.filter_ablation(_docs(spark, sf))


# deletion propagation: digest joins;
# direct/via_content flags from presence of the two join sides
#: forget_delete's re-crawled copies: every doc_id%100==3 shares one text,
#: and the request names only doc 3, so the digest propagation must catch
#: the whole family
_FORGET_TEXT = (
    "CASE WHEN doc_id % 100 = 3 THEN 'forgotten user content block'"
    " ELSE text END AS text"
)


@_query(
    f"WITH t AS (SELECT doc_id, {_FORGET_TEXT} FROM documents),"
    " d AS (SELECT doc_id, md5(text) AS digest FROM t),"
    " r AS (SELECT DISTINCT doc_id FROM d WHERE doc_id = 3),"
    " rd AS (SELECT DISTINCT digest FROM d"
    "  JOIN r USING (doc_id))"
    " SELECT d.doc_id, d.digest,"
    " (rd.digest IS NOT NULL) AS deleted,"
    " (r2.doc_id IS NOT NULL) AS direct,"
    " (rd.digest IS NOT NULL AND r2.doc_id IS NULL)"
    "  AS via_content"
    " FROM d LEFT JOIN rd ON d.digest = rd.digest"
    " LEFT JOIN r r2 ON d.doc_id = r2.doc_id"
)
def forget_delete(spark, sf):
    corpus = _docs(spark, sf).selectExpr("doc_id", _FORGET_TEXT)
    return textops.forget_delete(corpus, corpus.filter("doc_id = 3"))


# reading order: the 10-word two-column page must linearize
# column-major back to the original word order
@_query(
    "SELECT doc_id,"
    " w[1] || ' ' || w[2] || ' / ' || w[3] || ' ' || w[4] ||"
    " ' / ' || w[5] || ' ' || w[6] || ' / ' || w[7] || ' ' ||"
    " w[8] || ' / ' || w[9] || ' ' || w[10] AS reading_text"
    " FROM (SELECT doc_id, string_split(text, ' ') AS w"
    "  FROM documents)"
)
def extract_reading_order(spark, sf):
    # two-column prose scan: XY-cut column-major linearization
    # (a row-major table parse would interleave the columns)
    return xq.extract_reading_order_query(_docs(spark, sf))


# ring negatives: the oracle IS the global definition — next 2
# by ROW_NUMBER over (rk, id) with modular wraparound
@_query(
    "WITH r AS (SELECT doc_id,"
    "  md5('ns0:' || CAST(doc_id AS VARCHAR)) AS rk"
    "  FROM documents),"
    " o AS MATERIALIZED (SELECT doc_id, rk,"
    "  ROW_NUMBER() OVER (ORDER BY rk, doc_id) AS p,"
    "  COUNT(*) OVER () AS n FROM r)"
    " SELECT a.doc_id, b1.doc_id AS neg1, b2.doc_id AS neg2"
    " FROM o a JOIN o b1 ON b1.p = a.p % a.n + 1"
    " JOIN o b2 ON b2.p = ((a.p + 1) % a.n) + 1"
)
def negative_sample(spark, sf):
    # contrastive negatives: next-2-on-the-md5-ring, wraparound
    # included — the oracle is a global window; the Spark side must
    # reproduce it from bucketed leads + the heads boundary frame
    return textops.negative_sample(_docs(spark, sf))


# ---- end of the correctness window, the first 50 keys of queries() ----


# inactivity-gap sessionization: identical lag → boundary →
# running-sum construction; epoch_us ≡ Spark's unix_micros under
# the pinned UTC session zone
@_query(
    "WITH e AS (SELECT user_id, event_id, event_type,"
    "  epoch_us(ts) AS ts_us FROM events),"
    " l AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id"
    "  ORDER BY ts_us, event_id) AS prev FROM e),"
    " b AS (SELECT user_id, event_id, event_type, ts_us,"
    "  CASE WHEN prev IS NULL OR ts_us - prev > 1800000000"
    "   THEN 1 ELSE 0 END AS is_new FROM l),"
    " s AS (SELECT user_id, event_type, ts_us,"
    "  CAST(SUM(is_new) OVER (PARTITION BY user_id"
    "   ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED"
    "   PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq"
    "  FROM b)"
    " SELECT user_id, session_seq,"
    " CAST(COUNT(*) AS BIGINT) AS n_events,"
    " CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS duration_us,"
    " CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types"
    " FROM s GROUP BY user_id, session_seq"
)
def sessionize(spark, sf):
    # inactivity-gap sessionization (gaps-and-islands): exact epoch
    # MICROsecond gaps under the (ts_us, event_id) total order; only
    # integer aggregates cross engines, never a raw timestamp
    return relational.sessionize(_tbl(spark, sf, "events"))


# heavy hitters: identical hot-key collapse, exact micro share,
# (cnt desc, key asc) total order for the top-20 cut
#: heavy_keys' fabricated hot key: user_id%10<3 all collapse onto user 0
_HOT_USER = "CASE WHEN user_id % 10 < 3 THEN 0 ELSE user_id END AS user_id"


@_query(
    f"WITH k AS (SELECT {_HOT_USER} FROM events),"
    " c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt"
    "  FROM k GROUP BY user_id),"
    " t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM k)"
    " SELECT user_id, cnt,"
    " CAST((cnt * 1000000) // total AS BIGINT) AS share_micro"
    " FROM c CROSS JOIN t"
    " ORDER BY cnt DESC, user_id LIMIT 20"
)
def heavy_keys(spark, sf):
    # pre-join skew report over events with a fabricated hot key
    e = _tbl(spark, sf, "events").selectExpr(_HOT_USER)
    return relational.heavy_keys(e, "user_id")


# leakage-safe split: the split_assign md5_number uniform keyed
# on the CONTENT digest; identical dup-family injection
#: cluster_safe_split's two exact-dup families, which must co-assign
_CLUSTER_TEXT = (
    "CASE WHEN doc_id % 50 = 7 THEN 'cluster shared passage one'"
    " WHEN doc_id % 50 = 11 THEN 'cluster shared passage two'"
    " ELSE text END AS text"
)


@_query(
    f"WITH t AS (SELECT doc_id, {_CLUSTER_TEXT} FROM documents),"
    " d AS (SELECT doc_id, md5(text) AS digest FROM t),"
    " s AS (SELECT digest, CAST(COUNT(*) AS BIGINT)"
    "  AS cluster_size FROM d GROUP BY digest),"
    " u AS (SELECT doc_id, digest,"
    "  (((md5_number('clsplit0:' || digest) % 4294967296)"
    "    + 4294967296) % 4294967296)::DOUBLE"
    "   / 4294967296.0 AS uu FROM d)"
    " SELECT u.doc_id, u.digest, s.cluster_size,"
    " CASE WHEN uu < 0.98 THEN 'train'"
    "  WHEN uu < 0.99 THEN 'val' ELSE 'test' END AS split"
    " FROM u JOIN s ON u.digest = s.digest"
)
def cluster_safe_split(spark, sf):
    # leakage-safe split: the split draw keys on the content digest
    d = _docs(spark, sf).selectExpr("doc_id", _CLUSTER_TEXT)
    return textops.cluster_safe_split(d)


# silence-gap episode split: all-integer epoch-second windows
@_query(
    "WITH " + _AGENT_SQL + ","
    " g AS (SELECT conv_id, turn_idx, ts_s,"
    "  ts_s - lag(ts_s) OVER (PARTITION BY conv_id"
    "   ORDER BY turn_idx) AS gap FROM agent_turns),"
    " m AS (SELECT conv_id, turn_idx, ts_s,"
    f"  CAST(SUM(CASE WHEN gap > {_EPISODE_GAP_S} THEN 1 ELSE 0 END)"
    "   OVER (PARTITION BY conv_id ORDER BY turn_idx) AS INT)"
    "   AS episode_idx FROM g)"
    " SELECT conv_id, episode_idx,"
    "  CAST(MIN(turn_idx) AS INTEGER) AS start_turn,"
    "  CAST(MAX(turn_idx) AS INTEGER) AS end_turn,"
    "  CAST(COUNT(*) AS BIGINT) AS n_turns,"
    "  MAX(ts_s) - MIN(ts_s) AS duration_s"
    " FROM m GROUP BY 1, 2"
)
def agent_episodes(spark, sf):
    # >600 s silences split conversations into training episodes
    # (the synthesis plants a 900 s stall at every 5-turn boundary)
    return agenttrace.episodes(_agent_turns(spark, sf))


# ChatML same-role run merge: change-counter islands, ordered
# string_agg inside the aggregate
@_query(
    "WITH " + _TURNS_SQL + ","
    " l AS (SELECT conv_id, turn_idx, role, text,"
    "  CASE WHEN turn_idx = MIN(turn_idx) OVER"
    "    (PARTITION BY conv_id) THEN 1"
    "   WHEN lag(role) OVER (PARTITION BY conv_id"
    "    ORDER BY turn_idx) IS DISTINCT FROM role THEN 1"
    "   ELSE 0 END AS chg FROM turns),"
    " r AS (SELECT conv_id, turn_idx, role, text,"
    "  SUM(chg) OVER (PARTITION BY conv_id ORDER BY turn_idx)"
    "   AS run FROM l)"
    " SELECT conv_id, CAST(run - 1 AS INT) AS new_turn_idx,"
    "  MIN(role) AS role,"
    "  string_agg(coalesce(text, ''), chr(10)"
    "   ORDER BY turn_idx) AS text,"
    "  CAST(MIN(turn_idx) AS INTEGER) AS start_turn,"
    "  CAST(MAX(turn_idx) AS INTEGER) AS end_turn,"
    "  CAST(COUNT(*) AS BIGINT) AS n_merged"
    " FROM r GROUP BY conv_id, run"
)
def merge_role_runs(spark, sf):
    # ChatML normalization: maximal same-role runs merged into one
    # turn, texts newline-joined in order, densely renumbered (the
    # synthesis's %7 retry block yields real multi-turn runs)
    return transcript.merge_role_runs(_turns(spark, sf))


# dynamic batching: 64-token length buckets, md5-ordered
# batches of 8, exact integer padding waste per batch
@_query(
    "WITH " + _TURNS_SQL + ","
    " rd AS (SELECT conv_id, string_agg('<|im_start|>' || coalesce(role, '') || chr(10) || coalesce(text, '') || '<|im_end|>' || chr(10), '' ORDER BY turn_idx) AS rendered"
    "  FROM turns GROUP BY conv_id),"
    " b AS (SELECT conv_id,"
    f"  CAST(CASE WHEN {_blank_sql('rendered')} THEN 0"
    "   ELSE len(string_split(rendered, ' ')) END AS BIGINT)"
    "   AS n_tokens, md5(conv_id) AS k FROM rd),"
    " p AS (SELECT conv_id, n_tokens,"
    "  CAST(n_tokens // 64 AS INT) AS len_bucket,"
    "  CAST((ROW_NUMBER() OVER (PARTITION BY n_tokens // 64"
    "    ORDER BY k, conv_id) - 1) AS BIGINT) AS rn FROM b)"
    " SELECT conv_id, n_tokens, len_bucket,"
    "  CAST(rn // 8 AS INT) AS batch_idx,"
    "  CAST(rn % 8 AS INT) AS pos_in_batch,"
    "  CAST(COUNT(*) OVER pb * MAX(n_tokens) OVER pb"
    "   - SUM(n_tokens) OVER pb AS BIGINT) AS batch_pad_tokens"
    " FROM p WINDOW pb AS"
    "  (PARTITION BY len_bucket, rn // 8)"
)
def dynamic_batching(spark, sf):
    # padding-minimizing batch assembly over the rendered convs:
    # 64-token length buckets, md5-ordered batches of 8, exact
    # integer per-batch padding waste
    return transcript.dynamic_batching(
        transcript.render_chat(_turns(spark, sf)).select(
            "conv_id", "rendered"
        )
    )


# agent context-cost billing: prefix running sums over the conv
# window, assistant-only input/output integer totals
@_query(
    "WITH " + _TURNS_SQL + ","
    " p AS (SELECT conv_id, role,"
    f"  CAST(CASE WHEN {_blank_sql('text')} THEN 0"
    "   ELSE len(string_split(text, ' ')) END AS BIGINT) AS tok,"
    f"  CAST(COALESCE(SUM(CASE WHEN {_blank_sql('text')} THEN 0"
    "    ELSE len(string_split(text, ' ')) END)"
    "   OVER (PARTITION BY conv_id ORDER BY turn_idx"
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
    "   0) AS BIGINT) AS pre FROM turns)"
    " SELECT conv_id,"
    "  CAST(COUNT(CASE WHEN role = 'assistant' THEN 1 END)"
    "   AS BIGINT) AS n_calls,"
    "  CAST(SUM(CASE WHEN role = 'assistant' THEN pre"
    "   ELSE 0 END) AS BIGINT) AS input_tokens,"
    "  CAST(SUM(CASE WHEN role = 'assistant' THEN tok"
    "   ELSE 0 END) AS BIGINT) AS output_tokens,"
    "  CAST(SUM(CASE WHEN role = 'assistant' THEN pre + tok"
    "   ELSE 0 END) AS BIGINT) AS total_tokens"
    " FROM p GROUP BY conv_id"
)
def context_cost(spark, sf):
    # agent API-cost model: each assistant turn re-sends the whole
    # prior context; exact integer prefix-sum billing per conv
    return transcript.context_cost(_turns(spark, sf))


# template families: the SAME skeleton generator renders the
# oracle's normalization (DuckDB needs the explicit 'g' flag)
#: template_detect's machine-generated page families: doc_id%7 injects
#: two template classes whose digits vary per copy (serials, totals), so
#: exact dedup misses them
_TEMPLATE_TEXT = (
    "CASE WHEN doc_id % 7 = 0 THEN 'invoice number ' || CAST(doc_id AS STRING)"
    " || ' total due ' || CAST(doc_id * 7 AS STRING)"
    " || ' items ' || CAST(doc_id % 5 AS STRING)"
    " WHEN doc_id % 7 = 3 THEN 'error page ' || CAST(doc_id AS STRING)"
    " || ' not found try again later'"
    " ELSE text END AS text"
)


@_query(
    f"WITH t AS (SELECT doc_id, {_TEMPLATE_TEXT} FROM documents),"
    " s AS (SELECT doc_id, md5("
    + textops._skeleton_sql("text", g=", 'g'")
    + ") AS sh FROM t),"
    " fam AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS n_copies,"
    "  MIN(doc_id) AS mid FROM s GROUP BY sh)"
    " SELECT doc_id, n_copies, n_copies >= 3 AS is_template,"
    " doc_id = mid AS is_canonical FROM s JOIN fam USING (sh)"
)
def template_detect(spark, sf):
    # skeletons travel as md5 only
    d = _docs(spark, sf).selectExpr("doc_id", _TEMPLATE_TEXT)
    return textops.template_detect(d)


# PMI collocations: exact HUGEINT ratio ≡ Spark decimal(38,0),
# full-sort ranking (the two-phase prune is a superset argument,
# so the oracle can rank directly)
@_query(
    "WITH d AS (SELECT string_split(text, ' ') AS w"
    "  FROM documents WHERE len(string_split(text, ' ')) >= 2),"
    " pr AS (SELECT unnest(list_transform(range(1, len(w)),"
    "  i -> w[i] || ' ' || w[i+1])) AS bigram FROM d),"
    " c12 AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c12"
    "  FROM pr GROUP BY bigram HAVING COUNT(*) >= 3),"
    " u AS (SELECT unnest(string_split(text, ' ')) AS tok"
    "  FROM documents),"
    " cu AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM u"
    "  GROUP BY tok),"
    " tot AS (SELECT CAST(SUM(len(string_split(text, ' ')))"
    "  AS BIGINT) AS n FROM documents),"
    " sc AS (SELECT bigram, c12, u1.c AS c1, u2.c AS c2,"
    "  CAST((c12::HUGEINT * tot.n * 1000000) //"
    "   (u1.c::HUGEINT * u2.c) AS BIGINT) AS score_micro"
    "  FROM c12 CROSS JOIN tot"
    "  JOIN cu u1 ON string_split(bigram, ' ')[1] = u1.tok"
    "  JOIN cu u2 ON string_split(bigram, ' ')[2] = u2.tok),"
    " r AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_micro"
    "  DESC, bigram ASC) AS INT) AS rank, * FROM sc)"
    " SELECT rank, bigram, c12, c1, c2, score_micro FROM r"
    " WHERE rank <= 20"
)
def pmi_collocations(spark, sf):
    # top-20 collocations by exact integer PMI ratio over the
    # natural corpus bigrams (no injection needed: the synthetic
    # vocabulary already has skewed pair frequencies)
    return textops.pmi_collocations(_docs(spark, sf))


# KWIC concordance: same hoisted token array, 1-based slice
# arithmetic (DuckDB slices are inclusive and clamp; empty
# slice -> '' matches Spark's concat_ws over an empty array)
@_query(
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts"
    "  FROM documents WHERE text IS NOT NULL)"
    " SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,"
    " COALESCE(array_to_string("
    "  ts[greatest(u.i - 5, 1):(u.i - 1)], ' '), '')"
    "  AS left_ctx,"
    " COALESCE(array_to_string(ts[(u.i + 1):(u.i + 5)], ' '), '')"
    "  AS right_ctx"
    " FROM t, LATERAL unnest(range(1, len(ts) + 1)) u(i)"
    " WHERE lower(ts[u.i]) = 'spark'"
)
def kwic_concordance(spark, sf):
    # audit sampler: every whole-token 'spark' hit with 5 tokens
    # of context each side
    return textops.kwic_concordance(_docs(spark, sf), probe="spark")


# Flesch reading-ease: identical vowel-group syllable heuristic,
# integer floor division in a fixed order (BIGINT // ≡ DIV)
@_query(
    "WITH t AS (SELECT doc_id,"
    " CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,"
    " CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)"
    "  AS BIGINT) AS n_sentences,"
    " CAST(list_sum(list_transform(string_split(text, ' '),"
    "  t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+')))))"
    "  AS BIGINT) AS n_syllables FROM documents),"
    " s AS (SELECT *,"
    "  CAST(206835000 - (1015000 * n_words) // n_sentences"
    "   - (84600000 * n_syllables) // greatest(n_words, 1)"
    "   AS BIGINT) AS flesch_micro FROM t)"
    " SELECT *, CASE WHEN flesch_micro >= 60000000 THEN 'easy'"
    " WHEN flesch_micro >= 30000000 THEN 'standard'"
    " ELSE 'difficult' END AS band FROM s"
)
def readability_score(spark, sf):
    # Flesch reading-ease in exact integer micro-units + band tags
    return textops.readability_score(_docs(spark, sf))


#: markdown_strip's markdown-formatted corpus slice: doc_id%4==0 docs lead
#: with the shared MD_SAMPLE block (heading, bold, emphasis, link,
#: bullets), %4==1 get a heading plus a trailing link, %4==2 get every
#: ' value ' bolded; the strip must unwrap all three shapes and leave
#: %4==3 untouched
_MD_TEXT = (
    f"CASE WHEN doc_id % 4 = 0 THEN {_sql_str(textops.MD_SAMPLE + chr(10))} || text"
    f" WHEN doc_id % 4 = 1 THEN {_sql_str('## heading line' + chr(10))} || text"
    " || ' tail [link](http://x.example/y) end'"
    " WHEN doc_id % 4 = 2 THEN replace(text, ' value ', ' **value** ')"
    " ELSE text END AS text"
)


# markdown strip: the same six-regex chain in the same order
@_query(
    f"WITH t AS (SELECT doc_id, {_MD_TEXT} FROM documents)"
    " SELECT doc_id,"
    " CAST(len(regexp_extract_all(text,"
    "  '\\[[^\\]]*\\]\\([^)]*\\)')) AS BIGINT) AS n_links,"
    " CAST(len(regexp_extract_all(text, '(^|\\n)#+ +'))"
    "  AS BIGINT) AS n_headings,"
    " regexp_replace(regexp_replace(regexp_replace("
    "  regexp_replace(regexp_replace(regexp_replace(text,"
    "  '\\[([^\\]]*)\\]\\(([^)]*)\\)', '\\1', 'g'),"
    "  '\\*\\*([^*]*)\\*\\*', '\\1', 'g'),"
    "  '\\*([^*]*)\\*', '\\1', 'g'),"
    "  '`([^`]*)`', '\\1', 'g'),"
    "  '(^|\\n)#+ +', '\\1', 'g'),"
    "  '(^|\\n)[-*] +', '\\1', 'g') AS plain_text"
    " FROM t"
)
def markdown_strip(spark, sf):
    return textops.markdown_strip(_docs(spark, sf).selectExpr("doc_id", _MD_TEXT))


_MONTH = "lpad(CAST(doc_id % 12 + 1 AS STRING), 2, '0')"
_DAY = "lpad(CAST(doc_id % 28 + 1 AS STRING), 2, '0')"
#: date_harvest's temporal metadata: doc_id%4==1 docs carry one appended
#: ISO date, %4==2 two dates where the LATER-appearing one sorts first
#: (min/max must be value-ordered, not positional); the rest carry none
_DATES_TEXT = (
    "CASE WHEN doc_id % 4 = 1"
    f" THEN text || ' published 2023-' || {_MONTH} || '-' || {_DAY}"
    f" WHEN doc_id % 4 = 2 THEN text || ' effective 2024-01-' || {_DAY}"
    f" || ' until 2023-' || {_MONTH} || '-' || {_DAY}"
    " ELSE text END AS text"
)


# ISO-date harvest: min/max are lexicographic over the extracted list
# (empty list -> NULL first/last in BOTH engines)
@_query(
    f"WITH t AS (SELECT doc_id, {_DATES_TEXT} FROM documents),"
    " d AS (SELECT doc_id, regexp_extract_all(text,"
    "  '[0-9]{4}-[0-9]{2}-[0-9]{2}') AS ds FROM t)"
    " SELECT doc_id, CAST(len(ds) AS BIGINT) AS n_dates,"
    " list_min(ds) AS first_date, list_max(ds) AS last_date"
    " FROM d"
)
def date_harvest(spark, sf):
    return textops.date_harvest(_docs(spark, sf).selectExpr("doc_id", _DATES_TEXT))


# hourly bars: identical epoch bucketing + string-encoded
# open/close keys; lo/hi are untouched stored doubles
@_query(
    "WITH e AS (SELECT event_type, value,"
    "  epoch_us(ts) // 3600000000 AS bar,"
    "  lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||"
    "  lpad(CAST(event_id AS VARCHAR), 12, '0') AS k FROM events)"
    " SELECT event_type, CAST(bar AS BIGINT) AS bar,"
    " CAST(COUNT(*) AS BIGINT) AS n_events,"
    " MIN(value) AS lo, MAX(value) AS hi,"
    " CAST(substring(MIN(k), 21) AS BIGINT) AS open_event_id,"
    " CAST(substring(MAX(k), 21) AS BIGINT) AS close_event_id"
    " FROM e GROUP BY 1, 2"
)
def ohlc_bars(spark, sf):
    # hourly candlestick bars per event type: exact epoch buckets,
    # string-encoded open/close argmin/argmax exported as event IDs,
    # untouched stored doubles for lo/hi
    return relational.ohlc_bars(_tbl(spark, sf, "events"))


#: html_meta's injected markup: doc_id families give docs with/without
#: each head field and 0-2 h1 tags
_HTML_HEAD = (
    "'<head>' || CASE WHEN doc_id % 4 <> 1"
    " THEN '<title>' || split_part(text, ' ', 1) || ' page</title>' ELSE '' END"
    " || CASE WHEN doc_id % 3 <> 2 THEN '<meta name=\"description\" content=\"about '"
    " || split_part(text, ' ', 1) || '\">' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN '<link rel=\"canonical\" href=\"http://c'"
    " || CAST(doc_id % 11 AS STRING) || '.example.com/p\">' ELSE '' END"
    " || '</head><body>' || repeat('<h1>hi</h1>', CAST(doc_id % 3 AS INT))"
    " || text || '</body>' AS html"
)


# head metadata: the same four regexes
@_query(
    f"WITH s AS (SELECT doc_id, {_HTML_HEAD} FROM documents)"
    " SELECT doc_id,"
    " regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,"
    " regexp_extract(html,"
    "  '<meta name=\"description\" content=\"([^\"]*)\"', 1)"
    "  AS meta_description,"
    " regexp_extract(html,"
    "  '<link rel=\"canonical\" href=\"([^\"]*)\"', 1)"
    "  AS canonical_url,"
    " CAST(len(regexp_extract_all(html, '<h1>', 0)) AS BIGINT)"
    "  AS n_h1 FROM s"
)
def html_meta(spark, sf):
    return textops.html_meta(_docs(spark, sf).selectExpr("doc_id", _HTML_HEAD))


#: char_diversity's degenerate docs: doc_id%9==0 docs become a two-char
#: loop (diversity collapses); natural prose sits far above the 0.2
#: threshold
_DEGEN_TEXT = "CASE WHEN doc_id % 9 = 0 THEN repeat('ab', 200) ELSE text END AS text"


# trigram diversity: in-row trigram list
@_query(
    f"WITH t AS (SELECT doc_id, {_DEGEN_TEXT} FROM documents),"
    " m AS (SELECT doc_id,"
    "  CAST(CASE WHEN length(text) >= 3 THEN length(text) - 2"
    "   ELSE 0 END AS BIGINT) AS n_trigrams,"
    "  CAST(CASE WHEN length(text) >= 3 THEN"
    "   len(list_distinct(list_transform("
    "    range(1, length(text) - 1),"
    "    i -> substring(text, i, 3)))) ELSE 0 END AS BIGINT)"
    "   AS n_distinct_trigrams FROM t)"
    " SELECT doc_id, n_trigrams, n_distinct_trigrams,"
    " CAST(CASE WHEN n_trigrams > 0 THEN"
    "  n_distinct_trigrams * 1000000 // n_trigrams"
    "  ELSE 0 END AS BIGINT) AS diversity_micro,"
    " (n_trigrams > 0 AND CASE WHEN n_trigrams > 0 THEN"
    "  n_distinct_trigrams * 1000000 // n_trigrams ELSE 0 END"
    "  < 200000) AS is_degenerate FROM m"
)
def char_diversity(spark, sf):
    return textops.char_diversity(_docs(spark, sf).selectExpr("doc_id", _DEGEN_TEXT))


#: dehyphenate's hard-wrapped docs: doc_id%4==0 docs get the shared
#: wrapped passage appended
_WRAPPED_TEXT = (
    "CASE WHEN doc_id % 4 = 0 THEN text || "
    + _sql_str(chr(10) + textops.DEHYPHEN_SAMPLE)
    + " ELSE text END AS text"
)


# hard-wrap repair: identical non-overlapping left-to-right regex scan;
# replacement backrefs are \1 in RE2, $1 in Java
@_query(
    f"WITH t AS (SELECT doc_id, {_WRAPPED_TEXT} FROM documents)"
    " SELECT doc_id,"
    " CAST(len(regexp_extract_all(text, E'[a-z0-9]-\\n[a-z0-9]'))"
    "  AS BIGINT) AS n_hyphen_joins,"
    " CAST(len(string_split(text, chr(10))) - 1"
    "  - len(regexp_extract_all(text, E'[a-z0-9]-\\n[a-z0-9]'))"
    "  AS BIGINT) AS n_line_wraps,"
    " regexp_replace(regexp_replace(text,"
    "  E'([a-z0-9])-\\n([a-z0-9])', '\\1\\2', 'g'),"
    "  E'\\n', ' ', 'g') AS clean_text"
    " FROM t"
)
def dehyphenate(spark, sf):
    return textops.dehyphenate(_docs(spark, sf).selectExpr("doc_id", _WRAPPED_TEXT))


# page-furniture strip: identical pagination (chunk_overlap's
# slicing idiom), digit mask, >=2-page & >=80% support rule,
# and ordered reassembly (string_agg skips the furniture NULLs);
# p and l are multi-referenced -> MATERIALIZED per the
# CTE-inlining trap
@_query(
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts,"
    "  len(string_split(text, ' ')) AS n FROM documents),"
    " p AS MATERIALIZED (SELECT doc_id,"
    "  CAST(u.j - 1 AS INT) AS page_idx,"
    "  '" + _FURNITURE_HEADER + "' || chr(10) ||"
    "  array_to_string(ts[((u.j - 1) * 30 + 1):"
    "   ((u.j - 1) * 30 + 30)], ' ') || chr(10) ||"
    "  'Page ' || CAST(u.j AS VARCHAR) || ' of ' ||"
    "  CAST((greatest(n, 1) - 1) // 30 + 1 AS VARCHAR)"
    "  AS page_text"
    "  FROM t, LATERAL unnest("
    "   range(1, (greatest(n, 1) - 1) // 30 + 2)) u(j)),"
    " pl AS (SELECT doc_id, page_idx,"
    "  string_split(page_text, chr(10)) AS ls FROM p),"
    " l AS MATERIALIZED (SELECT doc_id, page_idx,"
    "  CAST(u.i - 1 AS INT) AS line_idx, ls[u.i] AS line,"
    "  regexp_replace(ls[u.i], '[0-9]+', '#', 'g') AS mask"
    "  FROM pl, LATERAL unnest(range(1, len(ls) + 1)) u(i)),"
    " sup AS (SELECT doc_id, mask,"
    "  CAST(COUNT(DISTINCT page_idx) AS BIGINT) AS sup"
    "  FROM l GROUP BY doc_id, mask),"
    " np AS (SELECT doc_id,"
    "  CAST(COUNT(DISTINCT page_idx) AS BIGINT) AS np"
    "  FROM p GROUP BY doc_id),"
    " f AS (SELECT l.*, (sup.sup >= 2"
    "  AND sup.sup * 100 >= np.np * 80) AS furn"
    "  FROM l JOIN sup USING (doc_id, mask)"
    "  JOIN np USING (doc_id))"
    " SELECT doc_id, page_idx,"
    " CAST(COUNT(*) AS BIGINT) AS n_lines,"
    " CAST(SUM(CASE WHEN furn THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS n_furniture_lines,"
    " COALESCE(string_agg(CASE WHEN NOT furn THEN line END,"
    "  chr(10) ORDER BY line_idx), '') AS body_text"
    " FROM f GROUP BY doc_id, page_idx"
)
def strip_page_furniture(spark, sf):
    # paginate each doc into 30-token pages wearing a constant
    # running header and a 'Page i of n' footer (digits differ per
    # page; the #-mask makes the footer family repeat), then strip
    d = _docs(spark, sf)
    base = d.select("doc_id", F.split(F.col("text"), " ").alias("__ts"))
    n = F.size("__ts")
    pg = base.select(
        "doc_id",
        "__ts",
        F.expr("(greatest(size(__ts), 1) - 1) DIV 30 + 1").alias("__np"),
        F.posexplode(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(30))
        ).alias("page_idx", "__s"),
    ).select(
        "doc_id",
        F.col("page_idx").cast("int").alias("page_idx"),
        F.concat(
            F.lit(_FURNITURE_HEADER + "\n"),
            F.concat_ws(" ", F.slice(F.col("__ts"), F.col("__s"), 30)),
            F.lit("\nPage "),
            (F.col("page_idx") + 1).cast("string"),
            F.lit(" of "),
            F.col("__np").cast("string"),
        ).alias("page_text"),
    )
    return textops.strip_page_furniture(pg)


# GFM pipe-table serialization: identical pipe escaping and
# nationkey-ordered reassembly
#: table_to_markdown's nation names: nationkey%3==0 names get a pipe
#: injected so the |-escape path is exercised (the testdata nation has no
#: n_comment column)
_NATION_NAME = "CASE WHEN n_nationkey % 3 = 0 THEN n_name || '|alt' ELSE n_name END"


@_query(
    "WITH r AS (SELECT CAST(n_regionkey AS BIGINT) AS region_key,"
    " n_nationkey AS ord,"
    " '| ' || array_to_string(list_transform("
    f"  [{_NATION_NAME}, CAST(n_nationkey AS VARCHAR)],"
    "  c -> replace(c, '|', '\\|')), ' | ') || ' |' AS line"
    " FROM nation)"
    " SELECT region_key, CAST(COUNT(*) AS BIGINT) AS n_rows,"
    " '| nation | key |' || chr(10) ||"
    " '| --- | --- |' || chr(10) ||"
    " string_agg(line, chr(10) ORDER BY ord) AS markdown"
    " FROM r GROUP BY region_key"
)
def table_to_markdown(spark, sf):
    # serialize nation records into one GFM pipe table per region
    # (group = region, row order = nationkey)
    nat = spark.read.parquet(f"{sf}/nation.parquet")
    rec = nat.select(
        F.col("n_regionkey").cast("long").alias("region_key"),
        F.col("n_nationkey").cast("long").alias("row_idx"),
        F.array(
            F.expr(_NATION_NAME), F.col("n_nationkey").cast("string")
        ).alias("cells"),
    )
    return relational.table_to_markdown(
        rec, ["nation", "key"], group_col="region_key"
    )


# sentinel scrub: the same 7-replace chain
# in SPECIAL_TOKENS order, length-arithmetic counts on the
# ORIGINAL text (no regex anywhere except the final
# space-collapse, replayed with the 'g' flag)
@_query(_scrub_oracle())
def special_token_scrub(spark, sf):
    d = _docs(spark, sf).selectExpr("doc_id", _SENTINEL_TEXT)
    return textops.special_token_scrub(d)


# blocked edit-distance pairs: identical title construction,
# 8-char prefix block, length prefilter, levenshtein kernel
#: fuzzy_title_pairs' titles: the first 6 tokens
_TITLE = "regexp_extract(text, '^[^ ]*( [^ ]*){0,5}', 0)"


@_query(
    f"WITH t AS (SELECT doc_id, {_TITLE} AS base FROM documents),"
    " v AS (SELECT doc_id * 2 AS tid, base AS title FROM t"
    "  UNION ALL SELECT doc_id * 2 + 1, base || ' v2' FROM t"
    "  WHERE doc_id % 5 = 0),"
    " b AS MATERIALIZED (SELECT tid, title,"
    "  substr(title, 1, 8) AS blk, length(title) AS ln FROM v)"
    " SELECT CAST(a.tid AS BIGINT) AS id_a,"
    " CAST(b2.tid AS BIGINT) AS id_b,"
    " CAST(levenshtein(a.title, b2.title) AS BIGINT) AS dist"
    " FROM b a JOIN b b2 ON a.blk = b2.blk AND a.tid < b2.tid"
    " AND abs(a.ln - b2.ln) <= 3"
    " AND levenshtein(a.title, b2.title) <= 3"
)
def fuzzy_title_pairs(spark, sf):
    # doc_id%5==0 docs also publish a ' v2' variant (dist 3, same
    # 8-char block) so true fuzzy pairs exist; title_id = doc_id*2 +
    # variant
    d = _docs(spark, sf)
    base = F.expr(_TITLE)
    arr = F.when(
        F.col("doc_id") % 5 == 0,
        F.array(
            F.struct(F.lit(0).alias("v"), base.alias("t")),
            F.struct(
                F.lit(1).alias("v"),
                F.concat(base, F.lit(" v2")).alias("t"),
            ),
        ),
    ).otherwise(F.array(F.struct(F.lit(0).alias("v"), base.alias("t"))))
    titles = d.select(
        "doc_id", F.explode(arr).alias("s")
    ).select(
        (F.col("doc_id") * 2 + F.col("s.v")).alias("title_id"),
        F.col("s.t").alias("title"),
    )
    return textops.fuzzy_title_pairs(titles)


# sentence-aligned chunks: identical punctuation injection,
# boundary regex + 12-token runaway guard, running boundary
# count, first-token chunk assignment, ordered reassembly;
# tok is multi-referenced -> MATERIALIZED
#: sentence_chunk's sentence ends: the corpus has no punctuation, so
#: doc_id%7==0 docs get ' value ' occurrences promoted to ' value. ' (both
#: the punctuation path and the 12-token runaway guard fire)
_SENT_TEXT = (
    "CASE WHEN doc_id % 7 = 0 THEN replace(text, ' value ', ' value. ') ELSE text END"
)


@_query(
    f"WITH t AS (SELECT doc_id, string_split({_SENT_TEXT}, ' ') AS ts FROM documents),"
    " tok AS MATERIALIZED (SELECT doc_id,"
    "  CAST(u.i - 1 AS INT) AS idx, ts[u.i] AS tok"
    "  FROM t, LATERAL unnest(range(1, len(ts) + 1)) u(i)),"
    " s AS (SELECT *, CAST(COALESCE(SUM(CASE WHEN"
    "  regexp_matches(tok, '[.!?]$') OR (idx + 1) % 12 = 0"
    "  THEN 1 ELSE 0 END)"
    "  OVER (PARTITION BY doc_id ORDER BY idx"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
    "  AS BIGINT) AS sent_id FROM tok),"
    " st AS (SELECT *, MIN(idx) OVER"
    "  (PARTITION BY doc_id, sent_id) AS sent_start FROM s)"
    " SELECT doc_id, CAST(sent_start // 48 AS INT) AS chunk_id,"
    " CAST(COUNT(*) AS BIGINT) AS n_tokens,"
    " CAST(COUNT(DISTINCT sent_id) AS BIGINT) AS n_sentences,"
    " string_agg(tok, ' ' ORDER BY idx) AS chunk_text"
    " FROM st GROUP BY doc_id, chunk_id"
)
def sentence_chunk(spark, sf):
    d = _docs(spark, sf).selectExpr("doc_id", f"{_SENT_TEXT} AS text")
    return textops.sentence_chunk(d)


# sequence packing: per-shard (doc_id%64) running token offsets,
# windows cut every 512 tokens — all-integer, exact replay
# keyword-taxonomy tagging: literal topic table, per-doc hit
# counts, primary = max hits with earlier-topic tie-break
@_query(
    "WITH b AS (SELECT doc_id, string_split(text, ' ') AS w"
    "  FROM documents),"
    " tx(topic, kws, ord) AS (VALUES "
    + ", ".join(
        "('{t}', [{k}], {o})".format(
            t=t, k=", ".join(f"'{x}'" for x in kws), o=o
        )
        for o, (t, kws) in enumerate(textops.TAXONOMY)
    )
    + "),"
    " h AS (SELECT doc_id, topic, ord,"
    "  CAST(len(list_filter(w, x -> list_contains(kws, x)))"
    "   AS INT) AS n_hits FROM b, tx),"
    " r AS (SELECT doc_id, topic, n_hits,"
    "  ROW_NUMBER() OVER (PARTITION BY doc_id"
    "   ORDER BY n_hits DESC, ord) AS rn FROM h)"
    " SELECT doc_id, topic, n_hits, rn = 1 AS is_primary"
    " FROM r WHERE n_hits > 0"
)
def taxonomy_tag(spark, sf):
    return textops.taxonomy_tag(_docs(spark, sf))


# robots longest-match: the SAME dialect-neutral greatest()-of-
# CASE generator renders the oracle's rule tests
#: robots_filter's per-doc URLs: doc_id%5 walks the allow/disallow/tie
#: cases of the ruleset
_ROBOTS_URL = (
    "'http://site' || CAST(doc_id % 40 AS STRING) || '.example.com'"
    " || CASE WHEN doc_id % 5 = 0 THEN '/private/x' || CAST(doc_id AS STRING)"
    " WHEN doc_id % 5 = 1 THEN '/private/pub/y'"
    " WHEN doc_id % 5 = 2 THEN '/search?q=' || CAST(doc_id AS STRING)"
    " WHEN doc_id % 5 = 3 THEN '/page/' || CAST(doc_id AS STRING)"
    " ELSE '/tmp/cache' END AS url"
)


@_query(
    f"WITH u AS (SELECT doc_id, {_ROBOTS_URL} FROM documents),"
    " p AS (SELECT doc_id, url,"
    "  coalesce(nullif(regexp_extract(url,"
    "   'https?://[^/]+(/[^#]*)?', 1), ''), '/') AS path FROM u),"
    " m AS (SELECT doc_id, url, path,"
    f"  CAST({textops._robots_len_sql('path', 'allow', 'starts_with')} AS INT)"
    " AS allow_len,"
    f"  CAST({textops._robots_len_sql('path', 'disallow', 'starts_with')} AS INT)"
    " AS disallow_len"
    "  FROM p)"
    " SELECT doc_id, url, path, allow_len, disallow_len,"
    " allow_len >= disallow_len AS crawlable FROM m"
)
def robots_filter(spark, sf):
    # RFC 9309 longest-match rules; literal ruleset unrolled to
    # greatest()-of-CASE in BOTH engines
    return textops.robots_filter(_docs(spark, sf).selectExpr("doc_id", _ROBOTS_URL))


# mojibake: the SAME literal replace chain + length arithmetic
# (HUGEINT-free: BIGINT // on both engines)
#: mojibake_detect's encoding damage, injected by doc_id%6: two
#: corruption mixes covering both mojibake families
_MOJIBAKE_TEXT = (
    "CASE WHEN doc_id % 6 = 0"
    " THEN text || ' cafÃ© grÃ¼n â€œquoteâ€™ faÃ§ade'"
    " WHEN doc_id % 6 = 3 THEN text || ' naÃ¨ve Ã¤ Ã¶ â€” dash'"
    " ELSE text END AS text"
)


@_query(
    f"WITH t AS (SELECT doc_id, {_MOJIBAKE_TEXT} FROM documents)"
    " SELECT doc_id, CAST("
    + textops.mojibake_count_sql("text", idiv="//")
    + " AS BIGINT) AS n_mojibake, "
    + textops.mojibake_count_sql("text", idiv="//")
    + " > 0 AS is_damaged, "
    + textops.mojibake_repair_sql("text")
    + " AS repaired FROM t"
)
def mojibake_detect(spark, sf):
    # the literal repair chain is replayed verbatim in the oracle via
    # the shared SQL generators
    d = _docs(spark, sf).selectExpr("doc_id", _MOJIBAKE_TEXT)
    return textops.mojibake_detect(d)


#: anchor_text's link markup: two anchors per doc, a per-doc first-word
#: anchor on a %13 domain family and a constant "read more" anchor on a %7
#: family; the regex harvest must parse them back out of the markup
_ANCHOR_HTML = (
    "'<p>' || text || '</p><a href=\"http://d' || CAST(doc_id % 13 AS STRING)"
    " || '.example.org/p' || CAST(doc_id % 3 AS STRING) || '\">'"
    " || split_part(text, ' ', 1) || '</a><a href=\"http://d'"
    " || CAST(doc_id % 7 AS STRING) || '.example.net/q\">read more</a>' AS html"
)


# anchor aggregation: regex harvest; the per-domain argmax is the same
# string-encoded max
@_query(
    f"WITH s AS (SELECT doc_id, {_ANCHOR_HTML} FROM documents),"
    " h AS (SELECT doc_id,"
    "  regexp_extract_all(html,"
    "   '<a href=\"([^\"]+)\">([^<]*)</a>', 1) AS hs,"
    "  regexp_extract_all(html,"
    "   '<a href=\"([^\"]+)\">([^<]*)</a>', 2) AS ts FROM s),"
    " l AS (SELECT doc_id,"
    "  regexp_extract(hs[i], 'https?://([^/]+)', 1) AS domain,"
    "  trim(lower(ts[i])) AS anchor"
    "  FROM h, LATERAL unnest(range(1, len(hs)+1)) u(i)),"
    " p AS (SELECT domain, anchor,"
    "  CAST(COUNT(*) AS BIGINT) AS cnt FROM l GROUP BY 1, 2),"
    " g AS (SELECT domain, CAST(SUM(cnt) AS BIGINT) AS n_links,"
    "  CAST(COUNT(*) AS BIGINT) AS n_distinct_anchors,"
    "  MAX(lpad(CAST(cnt AS VARCHAR), 12, '0') || ':' || anchor)"
    "   AS top FROM p GROUP BY 1)"
    " SELECT domain, n_links, n_distinct_anchors,"
    " substring(top, 14) AS top_anchor,"
    " CAST(substring(top, 1, 12) AS BIGINT) AS top_count FROM g"
)
def anchor_text(spark, sf):
    return textops.anchor_text(_docs(spark, sf).selectExpr("doc_id", _ANCHOR_HTML))


# mixed-script words: explicit-range
# regexes (list_filter ≡ filter lambda)
#: homoglyph_detect's spoofed docs: doc_id%8==0 docs get the shared
#: Cyrillic-substituted sample appended
_HOMOGLYPH_TEXT = (
    "CASE WHEN doc_id % 8 = 0 THEN text || "
    + _sql_str(" " + textops.HOMOGLYPH_SAMPLE)
    + " ELSE text END AS text"
)


@_query(
    f"WITH t AS (SELECT doc_id, {_HOMOGLYPH_TEXT} FROM documents)"
    " SELECT doc_id,"
    " CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,"
    " CAST(len(list_filter(string_split(text, ' '),"
    "  t -> regexp_matches(t, '[a-z]')"
    "   AND regexp_matches(t, '[а-яё]'))) AS BIGINT)"
    "  AS n_mixed_words,"
    " len(list_filter(string_split(text, ' '),"
    "  t -> regexp_matches(t, '[a-z]')"
    "   AND regexp_matches(t, '[а-яё]'))) > 0 AS is_spoofed"
    " FROM t"
)
def homoglyph_detect(spark, sf):
    # mixed-script spoofing screen
    d = _docs(spark, sf).selectExpr("doc_id", _HOMOGLYPH_TEXT)
    return textops.homoglyph_detect(d)


# vocabulary drift: identical combined-top-k cut + exact
# integer frequencies (vN-1 = doc_id%3=0, the snapshot
# convention)
@_query(
    "WITH cur AS (SELECT unnest(string_split(text, ' ')) AS"
    "  token FROM documents),"
    " prev AS (SELECT unnest(string_split(text, ' ')) AS token"
    "  FROM documents WHERE doc_id % 3 = 0),"
    " cc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c_cur"
    "  FROM cur GROUP BY token),"
    " cp AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c_prev"
    "  FROM prev GROUP BY token),"
    " nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cur),"
    " np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM prev),"
    " j AS (SELECT COALESCE(cc.token, cp.token) AS token,"
    "  COALESCE(c_cur, 0) AS c_cur, COALESCE(c_prev, 0) AS c_prev"
    "  FROM cc FULL OUTER JOIN cp ON cc.token = cp.token"
    "  ORDER BY COALESCE(c_cur, 0) + COALESCE(c_prev, 0) DESC,"
    "   COALESCE(cc.token, cp.token) ASC LIMIT 64)"
    " SELECT token, c_cur, c_prev,"
    " CAST(c_cur * 1000000 // GREATEST((SELECT n FROM nc), 1)"
    "  AS BIGINT) AS f_cur_micro,"
    " CAST(c_prev * 1000000 // GREATEST((SELECT n FROM np), 1)"
    "  AS BIGINT) AS f_prev_micro,"
    " CAST(abs(c_cur * 1000000 // GREATEST((SELECT n FROM nc), 1)"
    "  - c_prev * 1000000 // GREATEST((SELECT n FROM np), 1))"
    "  AS BIGINT) AS drift_micro"
    " FROM j"
)
def vocab_drift(spark, sf):
    # release drift monitor: vN-1 = docs with doc_id%3==0 (the
    # cross_snapshot convention), vN = the full corpus
    d = _docs(spark, sf)
    return textops.vocab_drift(d, d.filter(F.col("doc_id") % 3 == 0))


# HITS over the link_pagerank edge CTE: unrolled MATERIALIZED
# iterations, HUGEINT // matching Spark div
@_query(graph.oracle_hits_sql(_LINK_EDGES_SQL))
def link_hits(spark, sf):
    # HITS hubs/authorities over the SAME injected domain graph as
    # link_pagerank; 2 integer micro-unit iterations with L1-style
    # normalization, oracle-unrolled
    return graph.hits(_link_edges(spark, sf))


# coverage curve: the oracle may use the plain global running
# sum (token is unique, so the RANGE frame has no peers); the
# Spark side's bucketed two-phase prefix sum must agree exactly
@_query(
    "WITH tf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf"
    "  FROM (SELECT unnest(string_split(text, ' ')) AS token"
    "   FROM documents) GROUP BY token),"
    " c AS MATERIALIZED (SELECT token, tf,"
    "  SUM(tf) OVER (ORDER BY tf DESC, token) AS cum FROM tf),"
    " tot AS MATERIALIZED (SELECT SUM(tf) AS total FROM tf),"
    " p AS (SELECT unnest([90, 95, 99]) AS pct)"
    " SELECT CAST(pct AS BIGINT) AS pct,"
    " CAST(SUM(CASE WHEN (cum - tf) * 100 < total * pct"
    "  THEN 1 ELSE 0 END) AS BIGINT) AS vocab_size,"
    " CAST(MAX(CASE WHEN (cum - tf) * 100 < total * pct"
    "  THEN cum ELSE 0 END) AS BIGINT) AS covered_tokens,"
    " CAST(MAX(total) AS BIGINT) AS total_tokens"
    " FROM c CROSS JOIN tot CROSS JOIN p GROUP BY pct"
)
def vocab_coverage(spark, sf):
    # vocab-budget sizing: types needed for 90/95/99% token mass
    return textops.vocab_coverage(_docs(spark, sf))


# CDC MERGE: latest-change-wins via arg_max over the seq,
# deletes drop the id, new ids come from the presence anti-join
#: snapshot_upsert's change feed, (filter, select list) per arm: upserts
#: (%5, seq 1) + deletes (%7, seq 2 — outranks the upsert on %35 ids) +
#: brand-new ids (%11, id+1e6)
_CHANGES = (
    ("doc_id % 5 = 0", [
        "doc_id", "'upsert' AS op", "text || ' [v2]' AS text", "1 AS seq",
    ]),
    ("doc_id % 7 = 0", ["doc_id", "'delete' AS op", "'' AS text", "2 AS seq"]),
    ("doc_id % 11 = 0", [
        "doc_id + 1000000 AS doc_id", "'upsert' AS op",
        "'new doc ' || CAST(doc_id AS STRING) AS text", "1 AS seq",
    ]),
)


@_query(
    "WITH ch AS ("
    + " UNION ALL ".join(
        f"SELECT {', '.join(cols)} FROM documents WHERE {where}"
        for where, cols in _CHANGES
    )
    + "),"
    " kk AS (SELECT doc_id, op, text,"
    "  lpad(CAST(seq AS VARCHAR), 18, '0') || '|' || op || '|'"
    "   || COALESCE(text, '') AS k FROM ch),"
    " latest AS (SELECT doc_id, arg_max(op, k) AS op,"
    "  arg_max(text, k) AS text FROM kk GROUP BY doc_id)"
    " SELECT d.doc_id,"
    "  CASE WHEN l.doc_id IS NULL THEN d.text ELSE l.text END"
    "   AS text,"
    "  CASE WHEN l.doc_id IS NULL THEN 'kept' ELSE 'updated' END"
    "   AS status"
    " FROM documents d LEFT JOIN latest l USING (doc_id)"
    " WHERE l.doc_id IS NULL OR l.op <> 'delete'"
    " UNION ALL"
    " SELECT l.doc_id, l.text, 'added' AS status"
    " FROM latest l LEFT JOIN documents d USING (doc_id)"
    " WHERE d.doc_id IS NULL AND l.op <> 'delete'"
)
def snapshot_upsert(spark, sf):
    # CDC MERGE: latest-change-wins, deletes emit nothing
    d = _docs(spark, sf)
    up, de, ad = (d.filter(where).selectExpr(*cols) for where, cols in _CHANGES)
    return dedup.snapshot_upsert(d, up.unionByName(de).unionByName(ad))


# hard negatives: band-mates minus exact dups, top-2 per anchor
# by the deterministic md5 pair hash (cand id as tiebreak)
@_query(
    "WITH shing0 AS MATERIALIZED (SELECT doc_id, "
    + _SH_SENTINEL
    + " AS s FROM documents),"
    f" sig AS MATERIALIZED (SELECT doc_id, {_MINHASH_COLS} FROM shing0),"
    f" bands AS MATERIALIZED ({_BANDS_16x4}),"
    " pr AS (SELECT DISTINCT x.doc_id AS anchor, y.doc_id AS cand"
    "  FROM bands x JOIN bands y USING (band_idx, band_key)"
    "  WHERE x.doc_id <> y.doc_id),"
    " dg AS (SELECT doc_id, md5(text) AS dg FROM documents),"
    " f AS (SELECT anchor, cand FROM pr"
    "  JOIN dg a ON a.doc_id = pr.anchor"
    "  JOIN dg c ON c.doc_id = pr.cand WHERE a.dg <> c.dg),"
    " r AS (SELECT anchor, cand, ROW_NUMBER() OVER ("
    "  PARTITION BY anchor ORDER BY"
    "  md5('hn:' || CAST(anchor AS VARCHAR) || ':'"
    "   || CAST(cand AS VARCHAR)), cand) AS rn FROM f)"
    " SELECT anchor AS doc_id,"
    "  MAX(CASE WHEN rn = 1 THEN cand END) AS hard1,"
    "  MAX(CASE WHEN rn = 2 THEN cand END) AS hard2"
    " FROM r WHERE rn <= 2 GROUP BY anchor"
)
def hard_negatives(spark, sf):
    # contrastive hard negatives: top-2 same-LSH-band mates per
    # anchor (excluding exact duplicates) by the md5 pair hash
    return dedup.hard_negatives(_docs(spark, sf))


# Kneser-Ney bigram scoring: type counts from the bigram-count
# table, common-denominator single division (HUGEINT exact)
@_query(
    "WITH toks AS (SELECT doc_id, string_split(text,' ') AS w"
    "  FROM documents),"
    " pairs AS (SELECT doc_id,"
    "  unnest(list_transform(range(1, len(w)),"
    "   i -> md5(w[CAST(i AS INT)]))) AS h1,"
    "  unnest(list_transform(range(1, len(w)),"
    "   i -> md5(w[CAST(i AS INT)+1]))) AS h2"
    "  FROM toks WHERE len(w) >= 2),"
    " c2t AS (SELECT h1, h2, COUNT(*)::HUGEINT AS c2"
    "  FROM pairs GROUP BY h1, h2),"
    " c1t AS (SELECT h1, SUM(c2)::HUGEINT AS c1,"
    "  COUNT(*)::HUGEINT AS n1f FROM c2t GROUP BY h1),"
    " pct AS (SELECT h2, COUNT(*)::HUGEINT AS n1p"
    "  FROM c2t GROUP BY h2),"
    " nt AS (SELECT COUNT(*)::HUGEINT AS ntot FROM c2t),"
    " sc AS (SELECT doc_id,"
    "  (1000000::HUGEINT * ((4*c2 - 3)*ntot + 3*n1f*n1p))"
    "   // (4*c1*ntot) AS p"
    "  FROM pairs JOIN c2t USING (h1, h2) JOIN c1t USING (h1)"
    "  JOIN pct USING (h2) CROSS JOIN nt),"
    " agg AS (SELECT doc_id, COUNT(*) AS n, SUM(p) AS s"
    "  FROM sc GROUP BY doc_id)"
    " SELECT d.doc_id, CAST(COALESCE(n, 0) AS BIGINT) AS n_bigrams,"
    "  CAST(COALESCE(s // n, 0) AS BIGINT) AS kn_score_micro"
    " FROM documents d LEFT JOIN agg USING (doc_id)"
)
def kn_lm_score(spark, sf):
    # Kneser-Ney-smoothed bigram fluency (exact micro-unit ints,
    # decimal(38,0) DIV on the JVM, HUGEINT // in the oracle)
    return textops.kn_lm_score(_docs(spark, sf))


# cross-page continuation: pages 1+2 share header a/b/c (one
# logical table), page 3 opens d/e/f — exactly 2 tables, all 9
# words round-trip in page order
@_query(
    "SELECT doc_id,"
    " 'a=' || w[1] || '|b=' || w[2] || '|c=' || w[3] ||"
    " '|a=' || w[4] || '|b=' || w[5] || '|c=' || w[6] ||"
    " '|d=' || w[7] || '|e=' || w[8] || '|f=' || w[9]"
    "  AS cells_text,"
    " CAST(2 AS BIGINT) AS n_tables"
    " FROM (SELECT doc_id, string_split(text, ' ') AS w"
    "  FROM documents)"
)
def table_page_stitch(spark, sf):
    # 3-page doc: table a/b/c continues onto page 2 (header
    # repeated), page 3 opens d/e/f — stitch yields n_tables = 2
    return xq.table_page_stitch_query(_docs(spark, sf))


# ICT pairs: first-5-token query, remainder passage; short docs
# (<= 5 tokens) emit nothing
@_query(
    "SELECT doc_id, array_to_string(w[1:5], ' ') AS query,"
    " array_to_string(w[6:len(w)], ' ') AS passage"
    " FROM (SELECT doc_id, string_split(text, ' ') AS w"
    "  FROM documents) WHERE len(w) > 5"
)
def ict_pairs(spark, sf):
    # Inverse Cloze Task: first-5-token query vs remainder passage
    return textops.ict_pairs(_docs(spark, sf))


# release fingerprint: per-digest-prefix bucket, order-free
# little-endian word sums mod 2^32 (explicit hex-byte replay)
@_query(
    "WITH d AS (SELECT md5(CAST(doc_id AS VARCHAR) || ':'"
    "  || COALESCE(text, '')) AS h FROM documents),"
    " u AS (SELECT "
    + _sql_hex_byte("h", 0)
    + " AS bucket, "
    + _sql_md5_u32("h", 0)
    + " AS u1, "
    + _sql_md5_u32("h", 4)
    + " AS u2 FROM d)"
    " SELECT bucket, COUNT(*)::BIGINT AS n_docs,"
    " CAST(SUM(u1) % 4294967296 AS BIGINT) AS sum1,"
    " CAST(SUM(u2) % 4294967296 AS BIGINT) AS sum2"
    " FROM u GROUP BY bucket"
)
def release_checksum(spark, sf):
    # order-free per-bucket multiset checksums (release integrity)
    return dedup.release_checksum(_docs(spark, sf))


# Broder containment over the shared LSH candidates: inclusion
# pairs; single rounded division, size guard on both engines
@_query(
    _LSH_VERIFY_PREFIX
    + " SELECT a, b,"
    " round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)"
    "  / least(len(x.sh), len(y.sh)), 4) AS containment"
    " FROM cand JOIN shingled x ON x.sid = a"
    " JOIN shingled y ON y.sid = b"
    " WHERE least(len(x.sh), len(y.sh)) > 0"
    " AND round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)"
    "  / least(len(x.sh), len(y.sh)), 4) >= 0.8"
)
def dedup_containment(spark, sf):
    # Broder containment over LSH candidates: inclusion pairs that
    # symmetric Jaccard under-scores when sizes mismatch
    return dedup.containment_pairs(_docs(spark, sf))


# groundedness: distinct response bigrams ∩ prompt bigrams;
# DuckDB range() is empty below 2 tokens (Spark guards its
# DESCENDING sequence() with a size CASE); e6 ratio via //
@_query(
    "WITH " + _TURNS_SQL + ","
    " p AS (SELECT conv_id, turn_idx, role, text,"
    "  last_value(CASE WHEN role = 'user' THEN text END IGNORE NULLS)"
    "  OVER (PARTITION BY conv_id ORDER BY turn_idx"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prompt"
    "  FROM turns),"
    " qa AS (SELECT conv_id, turn_idx, prompt, text AS response"
    "  FROM p WHERE role = 'assistant' AND prompt IS NOT NULL),"
    " tk AS (SELECT conv_id, turn_idx,"
    "  string_split(prompt, ' ') AS pt,"
    "  string_split(response, ' ') AS rt FROM qa),"
    " bg AS (SELECT conv_id, turn_idx,"
    "  list_distinct(list_transform(range(1, len(pt)),"
    "   i -> pt[i] || ' ' || pt[i+1])) AS pb,"
    "  list_distinct(list_transform(range(1, len(rt)),"
    "   i -> rt[i] || ' ' || rt[i+1])) AS rb FROM tk),"
    " ct AS (SELECT conv_id, turn_idx,"
    "  CAST(len(rb) AS BIGINT) AS n_bigrams,"
    "  CAST(len(list_intersect(rb, pb)) AS BIGINT) AS n_grounded"
    "  FROM bg)"
    " SELECT conv_id, turn_idx, n_bigrams, n_grounded,"
    " CASE WHEN n_bigrams = 0 THEN NULL"
    "  ELSE CAST(1000000 * n_grounded // n_bigrams AS BIGINT) END"
    "  AS grounded_e6 FROM ct"
)
def grounding_score(spark, sf):
    # RAG-faithfulness gate: share of distinct response bigrams
    # present in the prompt, exact integer counts + e6 ratio
    return transcript.grounding_score(
        transcript.qa_pairs(_turns(spark, sf))
    )


# per-turn novelty: distinct 8-token window hashes, first
# conversation occurrence per hash, share first seen this turn
@_query(
    "WITH " + _TURNS_SQL + ","
    " b AS (SELECT conv_id, turn_idx,"
    f"  CASE WHEN {_blank_sql('text')} THEN []::VARCHAR[]"
    "   ELSE string_split(text, ' ') END AS ts FROM turns),"
    " w AS (SELECT conv_id, turn_idx,"
    "  md5(array_to_string(ts[CAST(u.i AS INT):"
    "   CAST(u.i + 7 AS INT)], ' ')) AS wh"
    "  FROM b, LATERAL unnest(range(1, len(ts) - 8 + 2)) u(i)"
    "  WHERE len(ts) >= 8),"
    " d AS MATERIALIZED (SELECT DISTINCT conv_id, turn_idx, wh"
    "  FROM w),"
    " m AS (SELECT conv_id, wh, MIN(turn_idx) AS ft FROM d"
    "  GROUP BY conv_id, wh),"
    " pt AS (SELECT d.conv_id, d.turn_idx,"
    "  CAST(COUNT(*) AS BIGINT) AS nw,"
    "  CAST(SUM(CASE WHEN m.ft = d.turn_idx THEN 1 ELSE 0 END)"
    "   AS BIGINT) AS nn"
    "  FROM d JOIN m USING (conv_id, wh)"
    "  GROUP BY d.conv_id, d.turn_idx)"
    " SELECT t.conv_id, t.turn_idx,"
    " COALESCE(pt.nw, 0) AS n_windows,"
    " COALESCE(pt.nn, 0) AS n_novel,"
    " CASE WHEN pt.nw IS NULL THEN NULL"
    "  ELSE CAST(1000000 * pt.nn // pt.nw AS BIGINT)"
    "  END AS novelty_e6"
    " FROM turns t LEFT JOIN pt USING (conv_id, turn_idx)"
)
def turn_novelty(spark, sf):
    # per-turn share of 8-token windows first seen in that turn —
    # the retry runs (turn 4 replays turn 3 verbatim) and any
    # repeated context score zero novelty on the replaying turn
    return transcript.turn_novelty(_turns(spark, sf))


# containment: cut_%04d clones of every 10th conversation's
# first five turns must resolve to their originals via the
# (prefix digest, prefix length) equi-join
@_query(
    "WITH " + _TURNS_SQL + ","
    " cut AS (SELECT 'cut_' || substr(conv_id, 6, 4) AS conv_id,"
    "  turn_idx, role, text FROM turns"
    "  WHERE CAST(substr(conv_id, 6, 4) AS INT) % 10 = 0"
    "   AND turn_idx < 5),"
    " allt AS (SELECT * FROM turns UNION ALL SELECT * FROM cut),"
    " dg AS (SELECT conv_id, turn_idx,"
    "  md5(coalesce(role, '') || chr(31) ||"
    "   coalesce(text, '')) AS dig FROM allt),"
    " a AS MATERIALIZED (SELECT conv_id,"
    "  list(dig ORDER BY turn_idx) AS digs FROM dg"
    "  GROUP BY conv_id),"
    " fulls AS (SELECT conv_id, CAST(len(digs) AS INT) AS n_turns,"
    "  md5(array_to_string(digs, '')) AS fd FROM a"
    f"  WHERE len(digs) <= {_CONTAIN_MAX_LEN}),"
    " pres AS MATERIALIZED (SELECT conv_id AS container_conv_id,"
    "  CAST(len(digs) AS INT) AS cn, CAST(u.k AS INT) AS k,"
    "  md5(array_to_string(digs[1:CAST(u.k AS INT)], '')) AS pd"
    "  FROM a, LATERAL unnest("
    f"   range(1, least({_CONTAIN_MAX_LEN}, len(digs)) + 1)) u(k)),"
    " hits AS (SELECT f.conv_id, p.container_conv_id FROM fulls f"
    "  JOIN pres p ON f.fd = p.pd AND f.n_turns = p.k"
    "   AND p.cn > f.n_turns),"
    " bs AS (SELECT conv_id, MIN(container_conv_id)"
    "   AS container_conv_id,"
    "  CAST(COUNT(*) AS BIGINT) AS n_containers FROM hits"
    "  GROUP BY conv_id)"
    " SELECT a.conv_id, CAST(len(a.digs) AS INT) AS n_turns,"
    " bs.container_conv_id IS NOT NULL AS contained,"
    " bs.container_conv_id,"
    " COALESCE(bs.n_containers, 0) AS n_containers"
    " FROM a LEFT JOIN bs USING (conv_id)"
)
def conversation_containment(spark, sf):
    # "continue"-artifact injector: every 10th conversation's first
    # five turns are cloned as a new cut_%04d conversation — the
    # clones must flag as contained in their originals
    t = _turns(spark, sf)
    cnum = F.substring("conv_id", 6, 4).cast("int")
    cut = t.filter((cnum % 10 == 0) & (F.col("turn_idx") < 5)).select(
        F.concat(F.lit("cut_"), F.substring("conv_id", 6, 4)).alias(
            "conv_id"
        ),
        "turn_idx",
        "role",
        "text",
    )
    return transcript.contained_conversations(t.unionByName(cut))


# per-conversation majority-script drift over the Cyrillic-
# injected turns (SCRIPT_RANGES argmax shared with script_detect)
@_query(_script_drift_oracle_sql())
def script_drift(spark, sf):
    inj = _turns(spark, sf).withColumn("text", F.expr(_DRIFT_INJ_SQL))
    return transcript.script_drift(inj)


# per-conversation role balance + exact verbosity ratio
@_query(
    "WITH " + _TURNS_SQL + ","
    " g AS (SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,"
    "  CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END)"
    "   AS BIGINT) AS n_user,"
    "  CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)"
    "   AS BIGINT) AS n_assistant,"
    f"  CAST(SUM(CASE WHEN role = 'user' AND NOT {_blank_sql('text')}"
    "   THEN len(string_split(text, ' ')) ELSE 0 END)"
    "   AS BIGINT) AS user_tokens,"
    f"  CAST(SUM(CASE WHEN role = 'assistant' AND NOT {_blank_sql('text')}"
    "   THEN len(string_split(text, ' ')) ELSE 0 END)"
    "   AS BIGINT) AS assistant_tokens"
    "  FROM turns GROUP BY conv_id)"
    " SELECT conv_id, n_turns, n_user, n_assistant,"
    " user_tokens, assistant_tokens,"
    " CAST(1000000 * assistant_tokens"
    "  // greatest(user_tokens, 1) AS BIGINT) AS verbosity_e6"
    " FROM g"
)
def conversation_role_stats(spark, sf):
    # per-conversation role balance + assistant-verbosity ratio
    return transcript.role_stats(_turns(spark, sf))


# keep-best dedup: recursive-CTE clusters (same closure as
# dedup_clusters) + per-cluster argmax of the exact integer
# quality score, ties by doc_id; empty docs rank last (-1)
@_query(
    _LSH_VERIFY_PREFIX
    + ", pairs AS MATERIALIZED (" + _VERIFIED_PAIRS_SELECT("a, b") + "),"
    " edges AS (SELECT a AS src, b AS dst FROM pairs"
    "  UNION ALL SELECT b, a FROM pairs),"
    " walk(id, label) AS ("
    "  SELECT doc_id, doc_id FROM documents"
    "  UNION"
    "  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id),"
    " cl AS (SELECT id AS doc_id, MIN(label) AS cluster_id"
    "  FROM walk GROUP BY id),"
    " qb AS (SELECT doc_id, length(text)::HUGEINT AS nc,"
    "  len(string_split(text,' '))::HUGEINT AS nt,"
    f"  len(list_filter(string_split(text,' '), t -> t IN ({_STOPLIST})))::HUGEINT AS ns,"
    "  length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))::HUGEINT AS nn"
    "  FROM documents),"
    " qs AS (SELECT doc_id, nc,"
    "  least(nc, 500)*nt*nc + 300*ns*nc + 200*nt*(nc - nn) AS num,"
    "  1000*nt*nc AS den FROM qb),"
    " qq AS (SELECT doc_id, CASE WHEN nc = 0 THEN -1"
    "  ELSE CAST((20000*num + den) // (2*den) AS BIGINT) END AS qe4"
    "  FROM qs),"
    " r AS (SELECT cl.doc_id, cl.cluster_id, qq.qe4,"
    "  ROW_NUMBER() OVER (PARTITION BY cl.cluster_id"
    "   ORDER BY qq.qe4 DESC, cl.doc_id) AS rn"
    "  FROM cl JOIN qq ON qq.doc_id = cl.doc_id)"
    " SELECT doc_id, cluster_id, CAST(qe4 AS BIGINT) AS qe4,"
    "  rn = 1 AS keep FROM r"
)
def dedup_keep_best(spark, sf):
    # keep-BEST dedup policy: within each verified near-dup cluster
    # keep the argmax of the exact integer quality score, not the
    # lowest id
    return dedup.dedup_keep_best(_docs(spark, sf))


# DPO preference pairs: per shared prompt, chosen = quality
# argmax, rejected = argmin (ties by conv, turn); zero-margin
# prompts emit nothing
@_query(
    _PREF_CHAIN
    + " SELECT c.prompt, chosen_conv_id,"
    "  CAST(chosen_turn_idx AS INTEGER) AS chosen_turn_idx,"
    "  rejected_conv_id,"
    "  CAST(rejected_turn_idx AS INTEGER) AS rejected_turn_idx,"
    "  CAST(cq - rq AS BIGINT) AS margin_e4"
    " FROM c JOIN j ON c.prompt = j.prompt"
)
def preference_pairs(spark, sf):
    # DPO prep: 50 shared prompts × ~10 candidate responses each;
    # chosen/rejected = quality argmax/argmin per prompt
    d = _docs(spark, sf)
    qa = d.select(
        F.format_string("conv_%06d", F.col("doc_id")).alias("conv_id"),
        F.lit(1).cast("int").alias("turn_idx"),
        F.concat(
            F.lit("summarize record "),
            (F.col("doc_id") % 50).cast("string"),
        ).alias("prompt"),
        F.col("text").alias("response"),
    )
    return transcript.preference_pairs(qa)


# reward-hacking audit: exact-integer length-preference counts
# over the same pair mining; tk mirrors _tok_count's blank=0
@_query(
    _PREF_CHAIN
    + ", tk AS (SELECT conv_id, turn_idx,"
    f"  CAST(CASE WHEN {_blank_sql('response')} THEN 0"
    "   ELSE len(string_split(response, ' ')) END AS BIGINT)"
    "   AS nt FROM qa),"
    " pb AS (SELECT tc.nt - tr.nt AS delta"
    "  FROM c JOIN j ON c.prompt = j.prompt"
    "  JOIN tk tc ON tc.conv_id = c.chosen_conv_id"
    "   AND tc.turn_idx = c.chosen_turn_idx"
    "  JOIN tk tr ON tr.conv_id = j.rejected_conv_id"
    "   AND tr.turn_idx = j.rejected_turn_idx)"
    " SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,"
    "  CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS chosen_longer,"
    "  CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS rejected_longer,"
    "  CAST(SUM(CASE WHEN delta = 0 THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS equal_len,"
    "  CAST(SUM(delta) AS BIGINT) AS sum_delta_tokens FROM pb"
)
def preference_length_bias(spark, sf):
    # reward-hacking audit over the same DPO pair mining: one row
    # of exact-integer length-preference counts, no division
    d = _docs(spark, sf)
    qa = d.select(
        F.format_string("conv_%06d", F.col("doc_id")).alias("conv_id"),
        F.lit(1).cast("int").alias("turn_idx"),
        F.concat(
            F.lit("summarize record "),
            (F.col("doc_id") % 50).cast("string"),
        ).alias("prompt"),
        F.col("text").alias("response"),
    )
    return transcript.preference_length_bias(qa)


# KMV distinct sketch: k-th smallest distinct u32 token hash;
# +1 denominator guards v=0; sketch-exact below k
@_query(
    "WITH toks AS (SELECT source AS grp,"
    "  unnest(string_split(text, ' ')) AS tok FROM documents),"
    " tf AS MATERIALIZED (SELECT grp, tok FROM toks WHERE tok <> ''),"
    " ex AS (SELECT grp, CAST(COUNT(DISTINCT tok) AS BIGINT)"
    "  AS exact_distinct FROM tf GROUP BY grp),"
    " vf AS MATERIALIZED (SELECT DISTINCT grp, "
    + _sql_md5_u32be("md5(tok)")
    + " AS v FROM tf),"
    " c AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_v"
    "  FROM vf GROUP BY grp),"
    " rk AS (SELECT grp, v, ROW_NUMBER() OVER (PARTITION BY grp"
    "  ORDER BY v) AS rn FROM vf),"
    " vkt AS (SELECT grp, v AS vk FROM rk WHERE rn = 64)"
    " SELECT c.grp AS source, c.n_v, CAST(vkt.vk AS BIGINT) AS vk,"
    "  CAST(CASE WHEN c.n_v < 64 THEN c.n_v"
    "   ELSE 63 * 4294967296 // (vkt.vk + 1) END AS BIGINT)"
    "  AS est_distinct, ex.exact_distinct"
    " FROM c LEFT JOIN vkt ON c.grp = vkt.grp"
    " JOIN ex ON c.grp = ex.grp"
)
def kmv_distinct(spark, sf):
    # mergeable K-minimum-values distinct-token sketch per source
    return textops.kmv_distinct(_docs(spark, sf))


# HyperLogLog: register index = top 6 bits of the kmv u32 hash,
# rank = CASE-chain highest-set-bit of the low 26; the harmonic
# denominator is exact in 2^-27 units and the estimate is one
# HUGEINT // chain ≡ Spark decimal(38,0) DIV
@_query(
    "WITH toks AS (SELECT source AS grp,"
    "  unnest(string_split(text, ' ')) AS tok FROM documents),"
    " tf AS MATERIALIZED (SELECT grp, tok FROM toks WHERE tok <> ''),"
    " ex AS (SELECT grp, CAST(COUNT(DISTINCT tok) AS BIGINT)"
    "  AS exact_distinct FROM tf GROUP BY grp),"
    " hv AS (SELECT grp, "
    + _sql_md5_u32be("md5(tok)")
    + " AS v FROM tf),"
    " r AS (SELECT grp, v // 67108864 AS reg, "
    + _hll_rank_sql("(v % 67108864)")
    + " AS rk FROM hv),"
    " m AS (SELECT grp, reg, MAX(rk) AS mr FROM r GROUP BY grp, reg),"
    " g AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_regs,"
    "  CAST(SUM(CAST(1 AS BIGINT) << (27 - mr)) AS BIGINT) AS pd"
    "  FROM m GROUP BY grp),"
    " d AS (SELECT grp, n_regs,"
    "  CAST(pd + (64 - n_regs) * 134217728 AS BIGINT) AS denom FROM g)"
    " SELECT d.grp AS source, d.n_regs, d.denom,"
    f" CAST(CAST({_HLL_ALPHA} AS HUGEINT) * 134217728"
    "  // d.denom // 1000000 AS BIGINT) AS est_distinct,"
    " ex.exact_distinct FROM d JOIN ex ON d.grp = ex.grp"
)
def hll_distinct(spark, sf):
    # HyperLogLog registers (m=64) per source: max-mergeable
    # sketch, register-exact across engines, integer-division
    # estimate (decimal(38,0) DIV ≡ HUGEINT //)
    return textops.hll_distinct(_docs(spark, sf))


# T5 span corruption: md5-u32 draws per (doc, pos) start 2-4
# token spans (~5% of positions); bounded lag-chain mask,
# running-count sentinels, ordered string_agg re-assembly
@_query(
    "WITH base AS (SELECT doc_id, string_split(text, ' ') AS ts"
    "  FROM documents),"
    " tk AS MATERIALIZED (SELECT doc_id, i - 1 AS pos, ts[i] AS tok"
    "  FROM base, LATERAL unnest(range(1, len(ts) + 1)) u(i)),"
    " s1 AS MATERIALIZED (SELECT doc_id, pos, tok,"
    "  hv % 20 = 0 AS st,"
    "  CAST(2 + (hv // 20) % 3 AS INT) AS ln"
    "  FROM (SELECT *, "
    + _sql_md5_u32be(
        "md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR))"
    )
    + " AS hv FROM tk)),"
    " s2 AS (SELECT *, st"
    + "".join(
        f" OR coalesce(lag(st, {o}) OVER w"
        f" AND lag(ln, {o}) OVER w > {o}, false)"
        for o in range(1, 4)
    )
    + " AS m FROM s1 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),"
    " s3 AS (SELECT *, m AND NOT coalesce(lag(m, 1) OVER w2, false)"
    "  AS run_start"
    "  FROM s2 WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)),"
    " s4 AS (SELECT *, SUM(CASE WHEN run_start THEN 1 ELSE 0 END)"
    "  OVER (PARTITION BY doc_id ORDER BY pos) AS k FROM s3),"
    " v AS (SELECT doc_id, pos, m, k,"
    "  CASE WHEN NOT m THEN tok WHEN run_start THEN"
    "   '<extra_id_' || CAST(k AS VARCHAR) || '>' END AS ival,"
    "  CASE WHEN run_start THEN"
    "   '<extra_id_' || CAST(k AS VARCHAR) || '> ' || tok"
    "   WHEN m THEN tok END AS tval"
    "  FROM s4)"
    " SELECT doc_id,"
    " string_agg(ival, ' ' ORDER BY pos) AS input_text,"
    " string_agg(tval, ' ' ORDER BY pos) AS target_text,"
    " CAST(MAX(k) AS BIGINT) AS n_spans,"
    " CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked"
    " FROM v GROUP BY doc_id"
)
def span_corruption(spark, sf):
    # T5 denoising pairs: md5-deterministic masked spans →
    # <extra_id_k> sentinel inputs + span targets, one doc_id
    # exchange shared by the lag chain, prefix sum and re-assembly
    return textops.span_corruption(_docs(spark, sf))


# FIM (PSM): md5-parity 50% rate, two md5-u32 cut draws mod
# (n_tokens+1), list slices re-joined — per-row both engines
@_query(
    "WITH base AS (SELECT doc_id, string_split(text, ' ') AS ts"
    "  FROM documents),"
    " d AS (SELECT doc_id, ts,"
    "  ("
    + _sql_md5_u32be("md5('fim0:' || CAST(doc_id AS VARCHAR))")
    + " % 2 = 0) AS fim_applied,"
    "  "
    + _sql_md5_u32be("md5('fim1:' || CAST(doc_id AS VARCHAR))")
    + " % (len(ts) + 1) AS c1,"
    "  "
    + _sql_md5_u32be("md5('fim2:' || CAST(doc_id AS VARCHAR))")
    + " % (len(ts) + 1) AS c2"
    "  FROM base),"
    " c AS (SELECT doc_id, ts, fim_applied,"
    "  least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM d)"
    " SELECT doc_id, fim_applied,"
    " CASE WHEN fim_applied THEN"
    "  '<fim_prefix> ' || coalesce(array_to_string(ts[1:lo], ' '), '') ||"
    "  ' <fim_suffix> ' || coalesce(array_to_string(ts[hi+1:len(ts)], ' '), '') ||"
    "  ' <fim_middle> ' || coalesce(array_to_string(ts[lo+1:hi], ' '), '')"
    "  ELSE array_to_string(ts, ' ') END AS text_out,"
    " CAST(CASE WHEN fim_applied THEN hi - lo ELSE 0 END AS BIGINT)"
    "  AS n_middle_tokens"
    " FROM c"
)
def fim_transform(spark, sf):
    # fill-in-the-middle (PSM) transform at 50% md5-parity rate:
    # two md5 cut draws, array slices re-joined — zero exchanges
    return textops.fim_transform(_docs(spark, sf))


# hybrid retrieval: the BM25 lex CTE + an exact-cosine dense
# leg (probes = embeddings of the query ids) fused by RRF in
# exact nano-units (1e9 // (60 + rank), integer both engines)
@_query(
    "WITH " + _HYBRID_FUSED_CTE
    + " SELECT query_id, doc_id, rrf_nano, lex_rank, dense_rank,"
    " fused_rank FROM fused"
)
def hybrid_rrf(spark, sf):
    # hybrid retrieval: BM25 lexical top-10 + exact-cosine dense
    # top-10 (probe vectors = embeddings of the query ids), fused
    # by reciprocal-rank fusion in exact nano-units
    lex = textops.bm25_topk(_docs(spark, sf), _BM25_QUERIES, k=10)
    emb = _tbl(spark, sf, "embeddings")
    dense = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < len(_BM25_QUERIES)), k=10
    ).select(
        F.col("q_id").cast("int").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    return similarity.rrf_fuse(
        [("lex", lex.select("query_id", "doc_id", "rank")), ("dense", dense)]
    )


# MMR diversification of the fused top-10: rank-based relevance
# nano-units, token-set Jaccard redundancy, 5 UNROLLED greedy
# argmax iterations (bpe_train precedent); LEFT JOIN + IS NULL
# instead of correlated NOT EXISTS (DuckDB inlines those)
@_query(_MMR_ORACLE_SQL)
def mmr_rerank(spark, sf):
    # MMR diversification of the hybrid fused top-10: rank-based
    # relevance nano-units vs token-set-Jaccard redundancy, the
    # whole greedy loop in ONE Arrow grouped map after a single
    # query-id exchange — the post-retrieval de-dup a RAG stack runs
    fused = hybrid_rrf(spark, sf)
    toks = _docs(spark, sf).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    cand = fused.select(
        "query_id", "doc_id", F.col("fused_rank").alias("rank")
    ).join(toks, "doc_id")
    return similarity.mmr_rerank(cand)


# LASER/CCMatrix margin mining: each cosine quantized ONCE to
# e4 ints, neighborhood sums are integer sums, margin is
# cos_e4*2k*1e4 // (sum_fwd+sum_bwd) — BIGINT // ≡ Spark DIV
# on the positive operands the filter guarantees
@_query(
    "WITH sq AS (SELECT vec_id AS src_id, embedding::DOUBLE[] AS v"
    "  FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 32),"
    " sc AS (SELECT vec_id AS src_nb, embedding::DOUBLE[] AS v"
    "  FROM embeddings WHERE vec_id % 2 = 0),"
    " tc AS (SELECT vec_id AS tgt_id, embedding::DOUBLE[] AS v"
    "  FROM embeddings WHERE vec_id % 2 = 1),"
    " f AS (SELECT src_id, tgt_id,"
    "  CAST(ROUND(list_dot_product(sq.v, tc.v) /"
    "   (sqrt(list_dot_product(sq.v, sq.v)) *"
    "    sqrt(list_dot_product(tc.v, tc.v))) * 10000, 0) AS BIGINT)"
    "   AS cos_e4 FROM sq, tc),"
    " fr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id"
    "  ORDER BY cos_e4 DESC, tgt_id) AS rn FROM f),"
    " fa AS (SELECT src_id,"
    "  MAX(CASE WHEN rn = 1 THEN tgt_id END) AS tgt_id,"
    "  MAX(CASE WHEN rn = 1 THEN cos_e4 END) AS cos_e4,"
    "  CAST(SUM(cos_e4) AS BIGINT) AS sum_fwd"
    "  FROM fr WHERE rn <= 4 GROUP BY src_id),"
    " b AS (SELECT tc.tgt_id, sc.src_nb,"
    "  CAST(ROUND(list_dot_product(tc.v, sc.v) /"
    "   (sqrt(list_dot_product(tc.v, tc.v)) *"
    "    sqrt(list_dot_product(sc.v, sc.v))) * 10000, 0) AS BIGINT)"
    "   AS cos_e4"
    "  FROM tc JOIN (SELECT DISTINCT tgt_id FROM fa) cand"
    "   USING (tgt_id), sc),"
    " br AS (SELECT tgt_id, cos_e4, ROW_NUMBER() OVER"
    "  (PARTITION BY tgt_id ORDER BY cos_e4 DESC, src_nb) AS rn"
    "  FROM b),"
    " ba AS (SELECT tgt_id, CAST(SUM(cos_e4) AS BIGINT) AS sum_bwd"
    "  FROM br WHERE rn <= 4 GROUP BY tgt_id),"
    " m AS (SELECT fa.src_id, fa.tgt_id, fa.cos_e4,"
    "  CAST(fa.cos_e4 * 80000 // (fa.sum_fwd + ba.sum_bwd)"
    "   AS BIGINT) AS margin_e4"
    "  FROM fa JOIN ba USING (tgt_id)"
    "  WHERE fa.cos_e4 > 0 AND fa.sum_fwd + ba.sum_bwd > 0)"
    " SELECT src_id, tgt_id, cos_e4, margin_e4,"
    "  margin_e4 >= 10000 AS accepted FROM m"
)
def bitext_mine(spark, sf):
    # LASER/CCMatrix margin-based bitext mining: even vec_ids play
    # the source language, odd vec_ids the target; probes = even
    # ids < 32 (bounded, the ANN-query pattern). k=4 neighborhoods,
    # margin in exact e4 integer units, accept at margin >= 1.0
    emb = _tbl(spark, sf, "embeddings")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    return similarity.bitext_mine(
        even.filter(F.col("vec_id") < 32), even, odd, k=4
    )


# alpha=0.5 temperature resample: micro-unit sqrt weights,
# HUGEINT // ≡ Spark decimal(38,0) DIV, md5 keep order
#: temperature_mix's deliberately skewed synthetic domain split
#: (50/25/12/7/6%): uniform sources would make every target identical
_SKEWED_DOMAIN = (
    "CASE WHEN doc_id % 100 < 50 THEN 'dom_a' WHEN doc_id % 100 < 75 THEN 'dom_b'"
    " WHEN doc_id % 100 < 87 THEN 'dom_c' WHEN doc_id % 100 < 94 THEN 'dom_d'"
    " ELSE 'dom_e' END AS domain"
)


@_query(
    f"WITH d AS (SELECT doc_id, {_SKEWED_DOMAIN} FROM documents),"
    " c AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS cnt"
    "  FROM d GROUP BY domain),"
    " w AS (SELECT domain, cnt,"
    "  CAST(floor(sqrt(cnt) * 1000000.0) AS BIGINT) AS wt FROM c),"
    " t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,"
    "  CAST(SUM(wt) AS BIGINT) AS sumw FROM w),"
    " tg AS (SELECT domain, CAST((CAST(total AS HUGEINT) // 2)"
    "  * wt // sumw AS BIGINT) AS target FROM w, t),"
    " r AS (SELECT domain, doc_id, ROW_NUMBER() OVER ("
    "  PARTITION BY domain ORDER BY"
    "  md5('tm0:' || CAST(doc_id AS VARCHAR)), doc_id) AS rank"
    "  FROM d)"
    " SELECT r.domain, r.doc_id, CAST(r.rank AS BIGINT) AS rank,"
    "  tg.target FROM r JOIN tg ON r.domain = tg.domain"
    " WHERE r.rank <= tg.target"
)
def temperature_mix(spark, sf):
    # alpha=0.5 temperature resampling
    d = _docs(spark, sf).selectExpr("doc_id", _SKEWED_DOMAIN)
    return textops.temperature_mix(d)


# count-min sketch replayed counter-for-counter: bucket j of a
# token = md5('cms<j>:'||tok) little-endian u32 mod 64; integer
# sums end to end, so estimates are hash-exact across engines
@_query(
    "WITH tok AS (SELECT u.t AS tok FROM documents,"
    "  LATERAL unnest(string_split(text, ' ')) u(t)"
    "  WHERE u.t <> ''),"
    " tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt"
    "  FROM tok GROUP BY tok),"
    " h AS (SELECT tok, cnt, r.j AS j, "
    + _sql_md5_u32("md5('cms' || CAST(r.j AS VARCHAR) || ':' || tok)")
    + " % 64 AS bucket FROM tc, range(0, 4) r(j)),"
    " counters AS (SELECT j, bucket,"
    "  CAST(SUM(cnt) AS BIGINT) AS bucket_cnt"
    "  FROM h GROUP BY j, bucket),"
    " est AS (SELECT h.tok, MIN(bucket_cnt) AS est_count,"
    "  MAX(h.cnt) AS exact_count"
    "  FROM h JOIN counters USING (j, bucket) GROUP BY h.tok),"
    " t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM tc)"
    " SELECT est.tok AS token,"
    "  CAST(est_count AS BIGINT) AS est_count,"
    "  CAST(exact_count AS BIGINT) AS exact_count,"
    "  CAST(total // 100 AS BIGINT) AS threshold"
    " FROM est, t WHERE est_count >= total // 100"
)
def cms_heavy_hitters(spark, sf):
    # mergeable count-min sketch: 4x64 counter grid, heavy hitter
    # = estimate >= total DIV 100; exact count rides along as the
    # small-scale calibration column (est >= exact by construction)
    return textops.cms_heavy_hitters(_docs(spark, sf))


@_query(
    "WITH m AS (SELECT vec_id, vec_id % 21 + 6 AS w,"
    "  vec_id % 13 + 5 AS h, vec_id % 3 + 1 AS nf"
    "  FROM embeddings WHERE vec_id < 200),"
    " px AS (SELECT vec_id,"
    "  SUM((vec_id + 7*f.f + 3*y.y + x.x) % 8) AS ps,"
    "  SUM((y.y + 1) * (x.x + 2)"
    "   * ((vec_id + 7*f.f + 3*y.y + x.x) % 8)) AS rs"
    "  FROM m, LATERAL unnest(range(0, nf)) f(f),"
    "  LATERAL unnest(range(0, h)) y(y),"
    "  LATERAL unnest(range(0, w)) x(x)"
    "  GROUP BY vec_id)"
    " SELECT m.vec_id, 'GIF' AS fmt, CAST(w AS INTEGER) AS width,"
    "  CAST(h AS INTEGER) AS height, CAST(nf AS INTEGER) AS n_frames,"
    "  CAST(8 AS INTEGER) AS palette_size,"
    "  CAST(ps AS BIGINT) AS px_sum, CAST(rs AS BIGINT) AS rw_sum,"
    "  TRUE AS valid"
    " FROM m JOIN px USING (vec_id)"
)
def multimodal_gif_meta(spark, sf):
    # REAL GIF bytes (LZW + interlace + multi-frame, kernels/gif.py)
    # through the full decode scan: dims/frames are pure functions
    # of vec_id, pixels are (vec_id + 7f + 3y + x) % 8, so the
    # oracle replays the decoded checksums arithmetically. Even
    # vec_ids store frame 0 interlaced — rw_sum (position-weighted)
    # catches a broken de-interlace that plain px_sum cannot.
    import numpy as np

    from ocr_spark.kernels.gif import encode_gif

    emb = _tbl(spark, sf, "embeddings").select("vec_id").filter(
        F.col("vec_id") < 200
    )

    pal = np.array(
        [[i * 32, 255 - i * 32, i * 16] for i in range(8)],
        dtype=np.uint8,
    )

    def enc(v: int) -> bytes:
        w, h, nf = v % 21 + 6, v % 13 + 5, v % 3 + 1
        grid = np.add.outer(3 * np.arange(h), np.arange(w))
        frames = [
            ((v + 7 * f + grid) % 8).astype(np.uint8)
            for f in range(nf)
        ]
        return encode_gif(frames, pal, interlace_first=(v % 2 == 0))

    return multimodal.gif_meta_scan(_payloads(emb, enc))


# GIF decode replayed arithmetically: fixture pixels are
# (vec_id + 7f + 3y + x) % 8, so both checksums are lateral
# range sums; rw_sum weights (y+1)(x+2) to pin row order
# BMP decode scan replayed arithmetically: 8-bit indices are
# (vec+3y+x)%16, 24-bit r+g+b channel sums of three modular
# planes; truncated (vec%41=0) payloads degrade to valid=false
@_query(
    "WITH m AS (SELECT vec_id, vec_id % 17 + 5 AS w,"
    "  vec_id % 9 + 4 AS h, vec_id % 2 AS md,"
    "  vec_id % 41 = 0 AS bad"
    "  FROM embeddings WHERE vec_id < 200),"
    " px AS (SELECT vec_id,"
    "  SUM(CASE WHEN md = 0 THEN (vec_id + 3*y.y + x.x) % 16 ELSE (vec_id + 3*y.y + x.x) % 251 + (vec_id + 5*y.y + 2*x.x) % 251 + (vec_id + 7*y.y + 3*x.x) % 251 END) AS ps,"
    "  SUM((y.y + 1) * (x.x + 2) * (CASE WHEN md = 0 THEN (vec_id + 3*y.y + x.x) % 16 ELSE (vec_id + 3*y.y + x.x) % 251 + (vec_id + 5*y.y + 2*x.x) % 251 + (vec_id + 7*y.y + 3*x.x) % 251 END)) AS rs"
    "  FROM m, LATERAL unnest(range(0, h)) y(y),"
    "  LATERAL unnest(range(0, w)) x(x)"
    "  GROUP BY vec_id)"
    " SELECT m.vec_id, 'BMP' AS fmt,"
    " CAST(CASE WHEN bad THEN 0 ELSE w END AS INTEGER) AS width,"
    " CAST(CASE WHEN bad THEN 0 ELSE h END AS INTEGER) AS height,"
    " CAST(CASE WHEN bad THEN 0 WHEN md = 0 THEN 8 ELSE 24 END"
    "  AS INTEGER) AS bpp,"
    " CAST(CASE WHEN bad THEN 0 ELSE ps END AS BIGINT) AS px_sum,"
    " CAST(CASE WHEN bad THEN 0 ELSE rs END AS BIGINT) AS rw_sum,"
    " NOT bad AS valid"
    " FROM m JOIN px USING (vec_id)"
)
def multimodal_bmp_meta(spark, sf):
    # REAL BMP bytes (8-bit palette / 24-bit BGR, bottom-up AND
    # top-down rows, kernels/bmp.py) through the decode scan: dims
    # are pure functions of vec_id, pixel values are modular
    # expressions, so the oracle replays the decoded checksums
    # arithmetically; vec_id % 41 == 0 payloads are truncated to
    # exercise the valid=false degrade path
    import numpy as np

    from ocr_spark.kernels.bmp import encode_bmp

    emb = _tbl(spark, sf, "embeddings").select("vec_id").filter(
        F.col("vec_id") < 200
    )

    pal = np.array(
        [[i * 16, 255 - i * 16, (i * 37) % 256] for i in range(16)],
        dtype=np.uint8,
    )

    def enc(v: int) -> bytes:
        w, h = v % 17 + 5, v % 9 + 4
        y = np.arange(h)[:, None]
        x = np.arange(w)[None, :]
        if v % 2 == 0:
            px = ((v + 3 * y + x) % 16).astype(np.uint8)
            data = encode_bmp(
                px, palette=pal, top_down=(v % 3 == 0)
            )
        else:
            px = np.stack(
                [
                    (v + 3 * y + x) % 251,
                    (v + 5 * y + 2 * x) % 251,
                    (v + 7 * y + 3 * x) % 251,
                ],
                axis=2,
            ).astype(np.uint8)
            data = encode_bmp(px, top_down=(v % 3 == 0))
        if v % 41 == 0:
            data = data[: len(data) // 2]
        return data

    return multimodal.bmp_meta_scan(_payloads(emb, enc))


# TIFF strip walk replayed arithmetically: gray pixels are
# (vec_id + 3y + x) % 251, bilevel (mode 2) ink where % 5 == 0
@_query(
    "WITH m AS (SELECT vec_id, vec_id % 19 + 7 AS w,"
    "  vec_id % 11 + 6 AS h, vec_id % 3 AS md"
    "  FROM embeddings WHERE vec_id < 200),"
    " px AS (SELECT vec_id,"
    "  SUM(CASE WHEN md = 2 THEN"
    "   CASE WHEN (vec_id + 3*y.y + x.x) % 5 = 0 THEN 1 ELSE 0 END"
    "   ELSE (vec_id + 3*y.y + x.x) % 251 END) AS ps,"
    "  SUM((y.y + 1) * (x.x + 2) * CASE WHEN md = 2 THEN"
    "   CASE WHEN (vec_id + 3*y.y + x.x) % 5 = 0 THEN 1 ELSE 0 END"
    "   ELSE (vec_id + 3*y.y + x.x) % 251 END) AS rs"
    "  FROM m, LATERAL unnest(range(0, h)) y(y),"
    "  LATERAL unnest(range(0, w)) x(x)"
    "  GROUP BY vec_id)"
    " SELECT m.vec_id, 'TIFF' AS fmt, CAST(w AS INTEGER) AS width,"
    "  CAST(h AS INTEGER) AS height,"
    "  CAST(CASE WHEN md = 2 THEN 1 ELSE 8 END AS INTEGER) AS bits,"
    "  CAST(CASE md WHEN 0 THEN 1 WHEN 1 THEN 32773 ELSE 4 END"
    "   AS INTEGER) AS compression,"
    "  CAST(ps AS BIGINT) AS px_sum, CAST(rs AS BIGINT) AS rw_sum,"
    "  TRUE AS valid"
    " FROM m JOIN px USING (vec_id)"
)
def multimodal_tiff_meta(spark, sf):
    # REAL TIFF bytes (kernels/tiff.py) through the full strip-walk
    # scan: vec_id%3 walks uncompressed-gray / PackBits-gray /
    # CCITT-G4-bilevel, vec_id%2 walks II/MM byte order, vec_id%5==0
    # splits into 4-row strips. Pixels are pure functions of
    # (vec_id, y, x) so both checksums replay arithmetically.
    import numpy as np

    from ocr_spark.kernels.tiff import write_tiff

    emb = _tbl(spark, sf, "embeddings").select("vec_id").filter(
        F.col("vec_id") < 200
    )

    def enc(v: int) -> bytes:
        w, h, md = v % 19 + 7, v % 11 + 6, v % 3
        grid = v + np.add.outer(3 * np.arange(h), np.arange(w))
        if md == 2:
            px = (grid % 5 == 0).astype(np.uint8)
            comp = 4
        else:
            px = (grid % 251).astype(np.uint8)
            comp = 1 if md == 0 else 32773
        return write_tiff(
            px,
            compression=comp,
            rows_per_strip=4 if v % 5 == 0 else None,
            big_endian=(v % 2 == 0),
        )

    return multimodal.tiff_meta_scan(_payloads(emb, enc))


# G.711 expansion replayed formula-for-formula (verified
# byte-exact against the CCITT tables): mu-law on even ids,
# A-law on odd; coded byte i = md5 'g711:' digest byte
@_query(
    "WITH m AS (SELECT vec_id, vec_id % 40 + 8 AS n"
    "  FROM embeddings WHERE vec_id < 200),"
    " s AS (SELECT m.vec_id, m.n, u.i AS i"
    "  FROM m, LATERAL unnest(range(0, m.n)) u(i)),"
    " b AS (SELECT vec_id, n, i, "
    + _MD5_BYTE.format(key="'g711:'", b="(i)")
    + " AS byte FROM s),"
    " d AS (SELECT vec_id, n, i,"
    "  CASE WHEN vec_id % 2 = 0 THEN"
    "   CASE WHEN (255 - byte) >= 128"
    "    THEN 132 - ((((255 - byte) % 16) * 8 + 132)"
    "     << (((255 - byte) // 16) % 8))"
    "    ELSE ((((255 - byte) % 16) * 8 + 132)"
    "     << (((255 - byte) // 16) % 8)) - 132 END"
    "  ELSE"
    "   CASE WHEN xor(byte, 85) >= 128 THEN 1 ELSE -1 END *"
    "   CASE WHEN (xor(byte, 85) // 16) % 8 = 0"
    "    THEN (xor(byte, 85) % 16) * 16 + 8"
    "    WHEN (xor(byte, 85) // 16) % 8 = 1"
    "    THEN (xor(byte, 85) % 16) * 16 + 264"
    "    ELSE ((xor(byte, 85) % 16) * 16 + 264)"
    "     << ((xor(byte, 85) // 16) % 8 - 1) END"
    "  END AS smp FROM b)"
    " SELECT vec_id,"
    "  CAST(CASE WHEN vec_id % 2 = 0 THEN 7 ELSE 6 END"
    "   AS INTEGER) AS fmt_code,"
    "  CAST(8000 AS INTEGER) AS sample_rate,"
    "  CAST(MAX(n) AS BIGINT) AS n_frames,"
    "  CAST(SUM(ABS(smp)) AS BIGINT) AS sum_abs,"
    "  CAST(SUM((i + 1) * smp) AS BIGINT) AS ws,"
    "  TRUE AS valid"
    " FROM d GROUP BY vec_id"
)
def multimodal_g711_meta(spark, sf):
    # REAL G.711 WAV containers (kernels/wav.py fmt 7/6) through
    # the full expansion decode: coded byte i is md5-derived
    # ('g711:' scheme), vec_id%2 walks mu-law / A-law, so the
    # oracle replays the CCITT expansion formulas arithmetically.
    # IMA ADPCM (fmt 0x11) is sequential-state and therefore
    # pytest-pinned instead (tests/test_audio_video.py).
    import hashlib

    from ocr_spark.kernels.wav import encode_g711_wav

    emb = _tbl(spark, sf, "embeddings").select("vec_id").filter(
        F.col("vec_id") < 200
    )

    def enc(v: int) -> bytes:
        n = v % 40 + 8
        blocks = b"".join(
            hashlib.md5(f"g711:{v}:{blk}".encode()).digest()
            for blk in range((n + 15) // 16)
        )
        return encode_g711_wav(
            blocks[:n],
            law="mu" if v % 2 == 0 else "a",
            rate=8000,
        )

    return multimodal.audio_codec_scan(_payloads(emb, enc))


# per-tool call stats: exact int64 gap sums (avg left to the
# consumer — float means would not be hash-stable)
@_query(
    "WITH " + _AGENT_SQL + ","
    " g AS (SELECT conv_id, tool,"
    "  LEAD(ts_s) OVER (PARTITION BY conv_id ORDER BY turn_idx)"
    "   - ts_s AS gap FROM agent_turns)"
    " SELECT tool, COUNT(*) AS n_calls,"
    "  COUNT(DISTINCT conv_id) AS n_convs,"
    "  CAST(SUM(gap) AS BIGINT) AS sum_gap_s,"
    "  COUNT(gap) AS n_gaps"
    " FROM g WHERE tool IS NOT NULL GROUP BY tool"
)
def tool_call_stats(spark, sf):
    # per-tool call counts + exact integer gap sums (tool latency)
    return agenttrace.tool_stats(_agent_turns(spark, sf))


# tool-transition counts; WHERE runs before the window in both
# engines, so lag() sees only tool-bearing turns
@_query(
    "WITH " + _AGENT_SQL + ","
    " t AS (SELECT conv_id, turn_idx, tool,"
    "  LAG(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx)"
    "   AS prev_tool FROM agent_turns WHERE tool IS NOT NULL)"
    " SELECT prev_tool, tool, COUNT(*) AS n_transitions"
    " FROM t WHERE prev_tool IS NOT NULL GROUP BY prev_tool, tool"
)
def tool_sequence_mining(spark, sf):
    # (prev_tool, tool) transition counts over the call sequence
    return agenttrace.tool_bigrams(_agent_turns(spark, sf))


# per-conversation wall profile — integer seconds end to end
@_query(
    "WITH " + _AGENT_SQL + ","
    " g AS (SELECT conv_id, ts_s, ts_s - LAG(ts_s) OVER ("
    "  PARTITION BY conv_id ORDER BY turn_idx) AS gap"
    "  FROM agent_turns)"
    " SELECT conv_id, COUNT(*) AS n_turns,"
    "  CAST(MAX(ts_s) - MIN(ts_s) AS BIGINT) AS duration_s,"
    "  CAST(MAX(gap) AS BIGINT) AS max_gap_s,"
    "  COUNT(CASE WHEN gap > 120 THEN 1 END) AS n_stalled"
    " FROM g GROUP BY conv_id"
)
def turn_latency_stats(spark, sf):
    # per-conversation wall profile: duration, max gap, stalls
    return agenttrace.turn_latency(_agent_turns(spark, sf))


# gaps-and-islands same-tool runs: rn_overall - rn_per_tool is
# constant exactly along a run
@_query(
    "WITH " + _AGENT_SQL + ","
    " tb AS (SELECT conv_id, turn_idx, tool,"
    "  ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx)"
    "  - ROW_NUMBER() OVER (PARTITION BY conv_id, tool"
    "     ORDER BY turn_idx) AS isl"
    "  FROM agent_turns WHERE tool IS NOT NULL)"
    " SELECT conv_id, tool,"
    "  CAST(MIN(turn_idx) AS INTEGER) AS start_turn,"
    "  CAST(MAX(turn_idx) AS INTEGER) AS end_turn,"
    "  COUNT(*) AS run_len"
    " FROM tb GROUP BY conv_id, tool, isl HAVING COUNT(*) >= 2"
)
def agent_loop_detect(spark, sf):
    # gaps-and-islands runs of the same tool (stuck retry loops)
    return agenttrace.tool_loops(_agent_turns(spark, sf))


# fence replay from the RAW doc text (pure function of doc_id):
# the synthesis wraps exactly doc_id%11 non-blank non-retry
# rows, so lang/sizes/md5 are arithmetic — the Spark side must
# recover them through the real regexp parse to match
@_query(
    "WITH f AS (SELECT printf('conv_%04d', doc_id % 97) AS conv_id,"
    "  CAST(doc_id // 97 AS INTEGER) AS turn_idx,"
    "  ['python','sql','bash'][doc_id % 3 + 1] AS lang, text"
    "  FROM documents"
    "  WHERE doc_id % 11 = 0 AND doc_id % 19 != 0"
    "   AND (doc_id // 97) % 7 NOT IN (3, 4)"
    "   AND text IS NOT NULL)"
    " SELECT conv_id, turn_idx, CAST(0 AS INTEGER) AS block_idx,"
    "  lang, CAST(length(text) AS INTEGER) AS n_chars,"
    "  CAST(len(string_split(text, chr(10))) AS INTEGER) AS n_lines,"
    "  md5(text) AS code_md5 FROM f"
)
def code_fence_extract(spark, sf):
    # fenced ```lang blocks per turn — lang, sizes, content md5
    return agenttrace.code_blocks(_agent_turns(spark, sf))


# JPEG payload dims are pure functions of vec_id, so the oracle
# validates the SOF header parse without a decoder.
@_query(
    "SELECT vec_id, 'JPEG' AS fmt,"
    " CAST(vec_id % 24 + 8 AS INTEGER) AS width,"
    " CAST(vec_id % 16 + 8 AS INTEGER) AS height,"
    " CAST(CASE vec_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3"
    "  ELSE 4 END AS INTEGER) AS channels,"
    " TRUE AS valid FROM embeddings WHERE vec_id < 200"
)
def multimodal_jpeg_meta(spark, sf):
    # REAL JPEG bytes through the metadata scan: payload dims are
    # pure functions of vec_id, so the DuckDB oracle checks the
    # parsed header values without needing a decoder. Pixels are a
    # deterministic gradient; the codec is kernels/jpeg.py (closes
    # the reference's .jpg whitelist, scripts/ExtractX_OCR.py:72).
    import numpy as np

    from ocr_spark.kernels.jpeg import encode_jpeg

    emb = _tbl(spark, sf, "embeddings").select("vec_id").filter(
        F.col("vec_id") < 200
    )

    def enc(v: int) -> bytes:
        w, h = v % 24 + 8, v % 16 + 8
        img = np.minimum(
            np.add.outer(np.arange(h) * 3, np.arange(w) * 2) + v,
            255,
        ).astype(np.uint8)
        # component matrix: vec_id%3 walks gray / RGB / CMYK
        # (the CMYK leg stores YCCK behind an APP14 Adobe
        # marker — the office-scanner shape, kernels/jpeg.py)
        m = v % 3
        if m == 1:
            img = np.stack([img, img // 2, 255 - img], axis=2)
        elif m == 2:
            img = np.stack(
                [img, 255 - img, img // 2, img // 3], axis=2
            )
        return encode_jpeg(img, quality=90, adobe_transform=2)

    return multimodal.extract_metadata(_payloads(emb, enc)).select(
        "vec_id", "fmt", "width", "height", "channels", "valid"
    )


# trainer chunking: 64-token chunks on a 48-token stride
@_query(
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts,"
    "  len(string_split(text, ' ')) AS n FROM documents"
    "  WHERE text IS NOT NULL)"
    " SELECT doc_id, CAST(u.j - 1 AS INT) AS chunk_idx,"
    "  CAST((u.j - 1) * 48 + 1 AS INT) AS start_tok,"
    "  CAST(least(64, n - ((u.j - 1) * 48 + 1) + 1) AS INT)"
    "   AS n_chunk_tokens,"
    "  array_to_string(ts[((u.j - 1) * 48 + 1):((u.j - 1) * 48 + 64)],"
    "   ' ') AS chunk_text"
    " FROM t, LATERAL unnest("
    "  range(1, (greatest(n, 1) - 1) // 48 + 2)) u(j)"
    " WHERE u.j = 1 OR (u.j - 1) * 48 + 1 <= n - 16"
)
def chunk_overlap(spark, sf):
    # trainer sequence prep: 64-token chunks on a 48-token stride
    # (16-token overlap); one transform + posexplode, zero exchanges
    return textops.chunk_overlap(_docs(spark, sf))


# benchmark decontamination: doc_id%97==0 docs are the eval set;
# word-5-gram overlap counts + flag
@_query(
    "WITH g AS (SELECT doc_id,"
    "  CASE WHEN len(string_split(text,' ')) < 5"
    "   THEN CAST([] AS VARCHAR[])"
    "   ELSE list_distinct(list_transform("
    "    range(1, len(string_split(text,' ')) - 3),"
    "    i -> array_to_string(list_slice(string_split(text,' '), i, i+4),"
    "     ' ')))"
    "  END AS grams FROM documents),"
    " bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g"
    "  WHERE doc_id % 97 = 0),"
    " dg AS (SELECT doc_id, unnest(grams) AS gram FROM g),"
    " hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM dg"
    "  JOIN bench USING (gram) GROUP BY doc_id)"
    " SELECT g.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,"
    " CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_contaminated,"
    " COALESCE(n_hit, 0) > 0 AS contaminated"
    " FROM g LEFT JOIN hits USING (doc_id)"
)
def decontaminate(spark, sf):
    # benchmark decontamination: docs with doc_id%97==0 stand in for
    # the eval suite (deterministic, ~1% of the corpus — the
    # bounded-broadcast shape of a real eval set); overlap unit is
    # the word 5-gram. Bench docs flag themselves, and any doc
    # sharing a 5-gram (exact/near dups of bench docs) flags too.
    d = _docs(spark, sf)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return textops.decontaminate(d, bench)


# ORC interchange: read-back order = write order = id-sorted
# within the shard, so the container round-trip replays as a
# per-shard ROW_NUMBER over the source rows
@_query(
    "SELECT doc_id, CAST(doc_id % 32 AS BIGINT) AS shard,"
    " CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % 32"
    "  ORDER BY doc_id) - 1 AS BIGINT) AS row_idx,"
    " CAST(COUNT(*) OVER (PARTITION BY doc_id % 32) AS BIGINT)"
    "  AS n_in_shard,"
    " lang, source, text FROM documents"
)
def orc_roundtrip(spark, sf):
    # ORC columnar interchange: write 32 real in-memory ORC shards
    # (pyarrow stripes/encodings/footer) and read them back in the
    # same grouped-map stage — id, shard, read-back row order, and
    # all payload fields recovered from the container
    return src.orc_roundtrip(_docs(spark, sf))


# the CID build/parse must round-trip the 8-word chunking through
# the subset-code + ToUnicode CMap path; the oracle computes the
# chunks without any PDF at all
@_query(
    "SELECT doc_id, CAST(u.i + 1 AS INT) AS page_idx,"
    " array_to_string(list_slice(w, CAST(8*u.i + 1 AS INT),"
    "  CAST(8*u.i + 8 AS INT)), ' ') AS page_text"
    " FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,"
    " LATERAL unnest(range(0, (len(d.w) + 7) // 8)) u(i)"
)
def pdf_cid_text_extract(spark, sf):
    # Real-world PDF text path: SUBSET-style Identity-H CID fonts.
    # Each document becomes a PDF whose show strings are 2-byte codes
    # assigned in first-seen order (no relation to Unicode — the
    # Word/Chrome/PDFium subset-font layout, kernels/pdf.py
    # build_pdf_cid); the ONLY road back to text is the font's
    # /ToUnicode CMap (bfrange + bfchar). Pages are 8-word chunks so
    # the oracle distinguishes this from pdf_text_extract's 10-word
    # classic/modern containers. Reference behavior matched: fitz's
    # text-capable front door on its own fixtures, both Identity-H
    # (scripts/ExtractX_OCR.py:240-288).
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from ocr_spark.operators import pages

    @python_stage
    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.kernels.pdf import build_pdf_cid

        for pdf in it:
            payloads = []
            for text in pdf["text"]:
                words = text.split(" ")
                chunks = [
                    " ".join(words[i : i + 8])
                    for i in range(0, len(words), 8)
                ] or [""]
                payloads.append(build_pdf_cid(chunks))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    pdfs = _docs_par(spark, sf).select("doc_id", "text").mapInPandas(build, schema)
    return pages.pdf_pages_from_bytes(pdfs)


# grid image → JPEG XObject → PDF → parse → decode → grid cells:
# the cell text must survive the whole scanned-document chain
@_query(
    "SELECT doc_id, 'r=' || w[1] || '|s=' || w[-1] AS cells_text"
    " FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"
)
def pdf_image_extract(spark, sf):
    # the reference's scanned-PDF use-case end-to-end: grid image →
    # JPEG (DCTDecode) XObject in a built PDF → container parse →
    # kernels/jpeg decode → threshold → grid layout parse → cells
    return xq.pdf_image_extract_query(_docs_par(spark, sf))


# Group 4 fax scan: same chain through the T.6 codec instead of
# JPEG — cell text must survive the 1-bit CCITT round-trip
@_query(
    "SELECT doc_id, 'f=' || w[1] || '|l=' || w[-1] AS cells_text"
    " FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"
)
def pdf_ccitt_image_extract(spark, sf):
    # the scanned-fax sibling: grid image → 1-bit /CCITTFaxDecode
    # XObject (ITU-T T.6/T.4, kernels/ccitt.py; doc_id%4 walks G4,
    # G4 byte-aligned, G3 1-D, G3 mixed 2-D) → parse → grid cells
    return xq.pdf_ccitt_image_extract_query(_docs_par(spark, sf))


# encrypted containers must decrypt to the exact 6-word chunking
@_query(
    "SELECT doc_id, CAST(u.i + 1 AS INT) AS page_idx,"
    " array_to_string(list_slice(w, CAST(6*u.i + 1 AS INT),"
    "  CAST(6*u.i + 6 AS INT)), ' ') AS page_text"
    " FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,"
    " LATERAL unnest(range(0, (len(d.w) + 5) // 6)) u(i)"
)
def pdf_encrypted_extract(spark, sf):
    # encrypted-but-openable PDFs (standard security handler, empty
    # user password): even docs RC4-128, odd docs AES-128 /AESV2 —
    # key derivation (Alg 2), per-object keys (Alg 1), stream
    # decryption all exercised per document; 6-word page chunks so
    # the oracle distinguishes this from the other PDF queries
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from ocr_spark.operators import pages

    @python_stage
    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.kernels.pdf import build_pdf_encrypted

        for pdf in it:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = text.split(" ")
                chunks = [
                    " ".join(words[i : i + 6])
                    for i in range(0, len(words), 6)
                ] or [""]
                payloads.append(
                    build_pdf_encrypted(chunks, aes=bool(int(doc_id) % 2))
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    pdfs = _docs_par(spark, sf).select("doc_id", "text").mapInPandas(build, schema)
    return pages.pdf_pages_from_bytes(pdfs)


@_query(
    "SELECT doc_id, CAST(len(string_split(text,' ')) AS INT) AS n_records"
    " FROM documents"
)
def projection_table_data(spark, sf):
    # reference: project table_data out of the response struct, summary
    # dropped (scripts/ExtractX_OCR.py:435-439) — Catalyst prunes the
    # unaccessed struct fields at the scan
    d = _docs(spark, sf)
    resp = F.struct(
        F.split(F.col("text"), " ").alias("table_data"),
        F.struct(
            F.col("n_chars").alias("total_rows"),
            F.lit("high").alias("confidence"),
        ).alias("summary"),
    )
    return d.select("doc_id", resp.alias("resp")).select(
        "doc_id", F.size("resp.table_data").alias("n_records")
    )


@_query(
    "SELECT least(max(length(text))+2, 50) AS text_width,"
    " least(max(length(lang))+2, 50) AS lang_width,"
    " least(max(length(source))+2, 50) AS source_width FROM documents"
)
def max_len_per_col(spark, sf):
    return relational.excel_widths(_docs(spark, sf), ["text", "lang", "source"])


@_query(
    "SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM"
    " (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS token"
    "  FROM documents)"
    " GROUP BY token ORDER BY doc_freq DESC, token LIMIT 20"
)
def top_terms(spark, sf):
    return textops.top_terms_df(_docs(spark, sf), k=20)


# Gopher rule filter: injection by doc_id%7, eight Table-A1
# rules replayed on the unrounded rationals
@_query(
    f"WITH inj AS (SELECT doc_id, {_G_INJ} AS t FROM documents),"
    " b AS (SELECT doc_id, t, string_split(t,' ') AS w,"
    "  string_split(t, chr(10)) AS l FROM inj)"
    " SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,"
    f" ROUND({_G_MEAN}, 4) AS mean_word_len,"
    f" ROUND({_G_SYM}, 4) AS symbol_ratio,"
    f" ROUND({_G_BULLET}, 4) AS bullet_frac,"
    f" ROUND({_G_ELL}, 4) AS ellipsis_frac,"
    f" ROUND({_G_ALPHA}, 4) AS alpha_frac,"
    f" CAST({_G_NSTOP} AS BIGINT) AS n_stopwords,"
    f" {_G_PASS} AS gopher_pass"
    " FROM b"
)
def gopher_rules(spark, sf):
    # Gopher rule filter (Rae et al. Table A1) with deterministic
    # rule-class injection by doc_id%7: symbol-heavy / bullet lines
    # / ellipsis lines / numeric block / truncated / doubled / raw —
    # every rule fires somewhere in the corpus. The oracle replays
    # all eight rules.
    d = _docs(spark, sf).selectExpr("doc_id", f"{_G_INJ} AS text")
    return textops.gopher_rules(d)


# corpus bigram LM scoring: conditional probabilities in exact
# integer micro-units (integer division both engines)
@_query(
    "WITH toks AS (SELECT doc_id, string_split(text,' ') AS w"
    "  FROM documents),"
    " pairs AS (SELECT doc_id,"
    "  unnest(list_transform(range(1, len(w)),"
    "   i -> w[CAST(i AS INT)])) AS w1,"
    "  unnest(list_transform(range(1, len(w)),"
    "   i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1])) AS bg"
    "  FROM toks WHERE len(w) >= 2),"
    " c1 AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY w1),"
    " c2 AS (SELECT bg, COUNT(*) AS c2 FROM pairs GROUP BY bg),"
    " agg AS (SELECT doc_id, COUNT(*) AS n,"
    "  SUM((1000000 * c2.c2) // c1.c1) AS s"
    "  FROM pairs JOIN c2 USING (bg) JOIN c1 USING (w1)"
    "  GROUP BY doc_id)"
    " SELECT d.doc_id, CAST(COALESCE(n,0) AS BIGINT) AS n_bigrams,"
    " CAST(COALESCE(s // n, 0) AS BIGINT) AS lm_score_micro,"
    " COALESCE(s // n, 0) >= 20000 AS is_fluent"
    " FROM documents d LEFT JOIN agg USING (doc_id)"
)
def ngram_lm_score(spark, sf):
    # corpus-trained bigram LM fluency scoring in exact integer
    # micro-probability units (CCNet-style quality signal)
    return textops.ngram_lm_score(_docs(spark, sf))


# DSIR importance weights: md5 low-byte buckets (md5_number is
# the signed little-endian int128 — ((x%64)+64)%64 == byte0%64,
# matching Spark's conv(substring(md5,1,2),16,10)%64), add-one
# smoothed log-likelihood ratio floored to micro-units per
# bucket, exact integer per-doc sum
@_query(
    "WITH tok AS (SELECT doc_id,"
    "  ((md5_number(x) % 64) + 64) % 64 AS bucket"
    "  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS x"
    "   FROM documents)),"
    " ttok AS (SELECT ((md5_number(x) % 64) + 64) % 64 AS bucket"
    "  FROM (SELECT unnest(string_split(text,' ')) AS x"
    "   FROM documents WHERE lang='en')),"
    " s_tab AS (SELECT bucket, COUNT(*) AS s_cnt FROM tok"
    "  GROUP BY bucket),"
    " t_tab AS (SELECT bucket, COUNT(*) AS t_cnt FROM ttok"
    "  GROUP BY bucket),"
    " s_tot AS (SELECT CAST(SUM(s_cnt) AS BIGINT) AS s_total"
    "  FROM s_tab),"
    " t_tot AS (SELECT CAST(SUM(t_cnt) AS BIGINT) AS t_total"
    "  FROM t_tab),"
    " lr AS (SELECT bucket, CAST(floor(ln("
    "   CAST((COALESCE(t_cnt,0)+1) * (s_total+64) AS DOUBLE)"
    "   / CAST((s_cnt+1) * (t_total+64) AS DOUBLE)) * 1000000)"
    "  AS BIGINT) AS term_micro"
    "  FROM s_tab LEFT JOIN t_tab USING (bucket), s_tot, t_tot),"
    " per AS (SELECT doc_id, COUNT(*) AS n_tokens,"
    "  SUM(term_micro) AS s FROM tok JOIN lr USING (bucket)"
    "  GROUP BY doc_id)"
    " SELECT d.doc_id,"
    " CAST(COALESCE(n_tokens,0) AS BIGINT) AS n_tokens,"
    " CAST(COALESCE(s,0) AS BIGINT) AS dsir_logw_micro,"
    " COALESCE(s,0) > 0 AS selected"
    " FROM documents d LEFT JOIN per USING (doc_id)"
)
def dsir_weights(spark, sf):
    # DSIR importance weights: target distribution = the lang='en'
    # slice, raw = the whole corpus; hashed unigram buckets,
    # per-doc integer log-weight sum and the selection flag
    d = _docs(spark, sf)
    return textops.dsir_weights(d, d.filter(F.col("lang") == "en"))


# tier extraction: duplicate-class injection (doc_id%101==5),
# Gopher rules + repetition + exact-dup + contamination →
# discard/low/medium/high
@_query(
    f"WITH inj AS (SELECT doc_id, {_TIER_INJ} AS t0"
    "  FROM documents),"
    " b AS (SELECT doc_id, t0 AS t, string_split(t0,' ') AS w,"
    "  string_split(t0, chr(10)) AS l FROM inj),"
    " gr AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,"
    f"  {_G_PASS} AS gopher_pass FROM b),"
    " rep AS (SELECT doc_id,"
    "  ROUND(1.0 - CAST(len(list_distinct(w)) AS DOUBLE)/len(w), 4)"
    "   AS dup_word_frac,"
    "  (1.0 - CAST(len(list_distinct(w)) AS DOUBLE)/len(w)) > 0.3"
    "   AS is_repetitive FROM b),"
    " dup AS (SELECT doc_id,"
    "  doc_id > MIN(doc_id) OVER (PARTITION BY md5(t)) AS is_dup"
    "  FROM b),"
    " g5 AS (SELECT doc_id,"
    "  CASE WHEN len(w) < 5 THEN CAST([] AS VARCHAR[])"
    "   ELSE list_distinct(list_transform(range(1, len(w) - 3),"
    "    i -> array_to_string(list_slice(w, CAST(i AS INT),"
    "     CAST(i AS INT)+4), ' '))) END AS grams FROM b),"
    " bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g5"
    "  WHERE doc_id % 97 = 0),"
    " dg AS (SELECT doc_id, unnest(grams) AS gram FROM g5),"
    " hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM dg"
    "  JOIN bench USING (gram) GROUP BY doc_id),"
    " cont AS (SELECT g5.doc_id, COALESCE(n_hit,0) > 0"
    "  AS contaminated FROM g5 LEFT JOIN hits USING (doc_id))"
    " SELECT gr.doc_id, gr.n_words, gr.gopher_pass,"
    " rep.is_repetitive, dup.is_dup, cont.contaminated,"
    " CASE WHEN cont.contaminated OR dup.is_dup THEN 'discard'"
    "  WHEN NOT gr.gopher_pass OR rep.is_repetitive THEN 'low'"
    "  WHEN rep.dup_word_frac = 0.0 THEN 'high'"
    "  ELSE 'medium' END AS tier"
    " FROM gr JOIN rep USING (doc_id) JOIN dup USING (doc_id)"
    " JOIN cont USING (doc_id)"
)
def quality_tiers(spark, sf):
    # tier extraction: the composed C4→Gopher→FineWeb-style funnel.
    # doc_id%101==5 docs share one verbatim text (exact-duplicate
    # class → discard tier); doc_id%97==0 docs are the eval set for
    # the contamination leg. The oracle replays all four signals plus
    # the tier CASE.
    injected = _docs(spark, sf).selectExpr("doc_id", f"{_TIER_INJ} AS text")
    bench = injected.filter(F.col("doc_id") % 97 == 0)
    return textops.quality_tiers(injected, bench)


# WARC round-trip: everything the parser recovers from the
# container is arithmetic in doc_id/text (HTTP 200, byte
# Content-Length, body identity, records per shard)
@_query(
    "SELECT doc_id,"
    " 'http://corpus.example.com/doc/' || doc_id AS url,"
    " CAST(200 AS INT) AS http_status,"
    " CAST(strlen(text) AS BIGINT) AS content_length,"
    " text AS body,"
    " COUNT(*) OVER (PARTITION BY doc_id % 32) AS n_in_file"
    " FROM documents"
)
def warc_roundtrip(spark, sf):
    # WARC/1.0 (Common Crawl) source: shard the corpus into 32
    # multi-record WARC files (per-record gzip members), then parse
    # them back with the kernel reader — doc id, HTTP status,
    # Content-Length, and body all recovered from the container
    return src.warc_roundtrip(_docs(spark, sf))


@_query(
    "SELECT doc_id, CAST(doc_id % 32 AS BIGINT) AS shard,"
    " CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % 32"
    "  ORDER BY doc_id) - 1 AS BIGINT) AS line_idx,"
    " CAST(COUNT(*) OVER (PARTITION BY doc_id % 32) AS BIGINT)"
    "  AS n_in_shard,"
    " lang, source, text FROM documents"
)
def jsonl_roundtrip(spark, sf):
    # gzip-sharded JSONL interchange: write 32 .jsonl.gz shards and
    # re-parse them in one grouped-map stage — id, shard, line
    # index, per-shard count, and all payload fields recovered from
    # the container itself
    return src.jsonl_roundtrip(_docs(spark, sf))


# gzip-sharded JSONL interchange: the roundtrip is an identity
# on (id, lang, source, text); shard layout and line order are
# doc_id % 32 and doc_id-ascending within shard
# ZIP interchange: member order = write order = id-sorted per
# shard; n_bytes = utf-8 byte length (DuckDB strlen IS bytes);
# NULL-text docs are skipped on both sides
@_query(
    "SELECT doc_id, CAST(doc_id % 32 AS BIGINT) AS shard,"
    " CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % 32"
    "  ORDER BY doc_id) - 1 AS BIGINT) AS member_idx,"
    " CAST(COUNT(*) OVER (PARTITION BY doc_id % 32) AS BIGINT)"
    "  AS n_in_shard,"
    " CAST(strlen(text) AS BIGINT) AS n_bytes, text"
    " FROM documents WHERE text IS NOT NULL"
)
def zip_roundtrip(spark, sf):
    # ZIP-archive interchange: 32 real central-directory archives
    # written and re-parsed in one grouped-map stage; ids from
    # member names, sizes from the central directory (CRC-checked)
    return src.zip_roundtrip(_docs(spark, sf))


# C4 boilerplate-line dedup: injection by doc_id%5, corpus-wide
# line counts, drop lines seen >2 times, reassemble in order
#: line_dedup's boilerplate lines, by doc_id%5 (nav header / social
#: footer / rights footer in overlapping classes)
_BOILER_LINES = (
    "CASE WHEN doc_id % 5 IN (1, 3)"
    " THEN 'Home | About | Contact' || chr(10) ELSE '' END"
    " || text"
    " || CASE WHEN doc_id % 5 IN (0, 1)"
    " THEN chr(10) || 'Follow us on social media for updates' ELSE '' END"
    " || CASE WHEN doc_id % 5 IN (0, 2)"
    " THEN chr(10) || 'All rights reserved 2026' ELSE '' END"
)


@_query(
    f"WITH inj AS (SELECT doc_id, {_BOILER_LINES} AS t FROM documents),"
    " l AS (SELECT doc_id, u.i AS idx,"
    "  string_split(t, chr(10))[CAST(u.i AS INT)] AS line"
    "  FROM inj, LATERAL unnest("
    "   range(1, len(string_split(t, chr(10))) + 1)) u(i)),"
    " bad AS (SELECT line FROM l GROUP BY line"
    "  HAVING COUNT(*) > 2),"
    " m AS (SELECT l.doc_id, l.idx, l.line,"
    "  (b.line IS NOT NULL) AS isbad"
    "  FROM l LEFT JOIN bad b ON b.line = l.line)"
    " SELECT doc_id,"
    " COALESCE(string_agg(CASE WHEN NOT isbad THEN line END,"
    "  chr(10) ORDER BY idx), '') AS clean_text,"
    " CAST(COUNT(*) AS BIGINT) AS n_lines,"
    " CAST(SUM(CASE WHEN isbad THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS n_dropped"
    " FROM m GROUP BY doc_id"
)
def line_dedup(spark, sf):
    # C4-style corpus-level line dedup: count every line across the
    # corpus and drop lines seen >2 times; docs reassembled from
    # surviving lines in order. The oracle replays counting and
    # reassembly (string_agg ORDER BY idx).
    d = _docs(spark, sf).selectExpr("doc_id", f"{_BOILER_LINES} AS text")
    return textops.line_dedup(d)


# duplicated-span detection: 20-word blocks prepended by
# doc_id%6 (window-aligned), 20-token windows every 10 tokens,
# corpus-wide counts, per-doc duplicated fraction
@_query(
    f"WITH inj AS (SELECT doc_id, {_SPAN_TEXT} AS t FROM documents),"
    " b AS (SELECT doc_id, string_split(t, ' ') AS w FROM inj),"
    " sp AS (SELECT doc_id, CASE WHEN len(w) >= 20 THEN"
    "  list_transform(range(1, len(w) - 18, 10),"
    "   i -> array_to_string("
    "    list_slice(w, CAST(i AS INT), CAST(i AS INT) + 19), ' '))"
    "  ELSE CAST([] AS VARCHAR[]) END AS grams FROM b),"
    " ex AS (SELECT doc_id, unnest(grams) AS g FROM sp),"
    " dup AS (SELECT g FROM ex GROUP BY g HAVING COUNT(*) > 1),"
    " hits AS (SELECT doc_id, COUNT(*) AS n_dup FROM ex"
    "  JOIN dup USING (g) GROUP BY doc_id)"
    " SELECT sp.doc_id, CAST(len(grams) AS BIGINT) AS n_spans,"
    " CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_spans,"
    " ROUND(CASE WHEN len(grams) = 0 THEN 0.0 ELSE"
    "  CAST(COALESCE(n_dup, 0) AS DOUBLE) / len(grams) END, 4)"
    "  AS dup_span_frac,"
    " COALESCE(n_dup, 0) > 0 AS is_duplicated"
    " FROM sp LEFT JOIN hits USING (doc_id)"
)
def dup_span_detect(spark, sf):
    # Lee-et-al-style duplicated-span detection: docs doc_id%6 in
    # (0,1) are prepended one fixed 20-word block, doc_id%6==2 a
    # second block — prepending keeps the injected window aligned
    # to the stride grid (windows start at token 1), so the block
    # IS a shared span across its class. 20-token windows every 10
    # tokens, corpus-wide count, per-doc duplicated fraction.
    injected = _docs(spark, sf).selectExpr("doc_id", f"{_SPAN_TEXT} AS text")
    return textops.dup_span_detect(injected)


# exact-substring dedup with removal: 8-token stride-1 windows,
# keep-first under (doc_id, pos) ⇔ ROW_NUMBER()=1 per hash,
# covered token indices cut, text reassembled in index order
@_query(
    f"WITH inj AS MATERIALIZED (SELECT doc_id, {_SPAN_TEXT} AS t FROM documents),"
    " toks AS MATERIALIZED (SELECT doc_id,"
    "  string_split(t, ' ') AS ts FROM inj),"
    " wins AS MATERIALIZED (SELECT doc_id, CAST(u.i AS INT) AS i,"
    "  md5(array_to_string(list_slice(ts, CAST(u.i AS INT),"
    "   CAST(u.i AS INT) + 7), ' ')) AS h"
    "  FROM toks, LATERAL unnest(range(1, len(ts) - 6)) u(i)"
    "  WHERE len(ts) >= 8),"
    " ranked AS MATERIALIZED (SELECT doc_id, i,"
    "  ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn,"
    "  COUNT(*) OVER (PARTITION BY h) AS cnt FROM wins),"
    " covered AS MATERIALIZED (SELECT DISTINCT doc_id,"
    "  CAST(u.idx AS INT) AS idx"
    "  FROM ranked, LATERAL unnest(range(i, i + 8)) u(idx)"
    "  WHERE rn >= 2),"
    " cuts AS (SELECT doc_id, COUNT(*) AS n_cut FROM covered"
    "  GROUP BY doc_id),"
    " pertok AS MATERIALIZED (SELECT doc_id,"
    "  CAST(u.idx AS INT) AS idx, ts[CAST(u.idx AS INT)] AS tok"
    "  FROM toks, LATERAL unnest(range(1, len(ts) + 1)) u(idx)),"
    " kept AS (SELECT p.doc_id,"
    "  string_agg(p.tok, ' ' ORDER BY p.idx) AS clean_text"
    "  FROM pertok p LEFT JOIN covered c"
    "  ON p.doc_id = c.doc_id AND p.idx = c.idx"
    "  WHERE c.idx IS NULL GROUP BY p.doc_id)"
    " SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,"
    " CAST(COALESCE(c.n_cut, 0) AS BIGINT) AS n_cut,"
    " ROUND(COALESCE(c.n_cut, 0)::DOUBLE / len(t.ts), 4)"
    "  AS cut_frac,"
    " COALESCE(k.clean_text, '') AS clean_text"
    " FROM toks t LEFT JOIN cuts c USING (doc_id)"
    " LEFT JOIN kept k USING (doc_id)"
)
def substring_dedup_cut(spark, sf):
    # Lee-et-al exact-substring dedup with REMOVAL: same injected
    # classes as dup_span_detect (block A shared by doc_id%6 in
    # (0,1), block B by %6==2); 8-token stride-1 windows hashed
    # corpus-wide, keep-first under (doc_id, pos), every covered
    # token of a redundant occurrence cut, text reassembled. The
    # first doc of each class keeps its block; the rest lose it.
    injected = _docs(spark, sf).selectExpr("doc_id", f"{_SPAN_TEXT} AS text")
    return textops.substring_dedup_cut(injected)


# BM25 top-k retrieval: per-term integer micro-unit scores
# (HUGEINT // ≡ Spark decimal DIV), Lucene +1 idf with one ln()
# per distinct query term, final rank (score desc, doc_id asc)
@_query(
    "WITH " + _BM25_LEX_CTE
    + " SELECT query_id, doc_id, rank, score_micro FROM lex"
)
def bm25_topk(spark, sf):
    # inverted-index BM25 retrieval: top-10 docs per query under
    # (score desc, doc_id asc); per-term scores in exact integer
    # micro-units (decimal(38,0) DIV ≡ HUGEINT //), one ln() per
    # distinct query term
    return textops.bm25_topk(_docs(spark, sf), _BM25_QUERIES)


# hashed-bag-of-words linear classifier: literal 64-weight
# table, md5_number low-byte buckets, exact integer logit
@_query(
    "SELECT doc_id, n_tokens, logit_micro,"
    " logit_micro > 0 AS label FROM ("
    " SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,"
    f" CAST({_CLF_BIAS} + COALESCE(list_sum(list_transform(ts,"
    f"  t -> ({_CLF_W_LIST})["
    "   CAST(((md5_number(t) % 64) + 64) % 64 AS INT) + 1])), 0)"
    "  AS BIGINT) AS logit_micro"
    " FROM (SELECT doc_id, string_split(text, ' ') AS ts"
    "  FROM documents))"
)
def classifier_score(spark, sf):
    # linear quality-classifier inference over hashed bag-of-words:
    # 64 literal micro-weights, md5-low-byte buckets, exact integer
    # logit — one per-row JVM aggregate, zero exchanges
    return textops.classifier_score(_docs(spark, sf))


# cross-release dedup: vN-1 = docs with doc_id%3==0; digest join
@_query(
    "SELECT d.doc_id, (p.h IS NOT NULL) AS in_prior FROM"
    " (SELECT doc_id, md5(text) AS h FROM documents) d"
    " LEFT JOIN (SELECT DISTINCT md5(text) AS h FROM documents"
    "  WHERE doc_id % 3 = 0) p ON d.h = p.h"
)
def cross_snapshot_dedup(spark, sf):
    # dedup against the previously released snapshot (docs with
    # doc_id%3==0 stand in for vN-1): digest-only left join
    d = _docs(spark, sf)
    return dedup.cross_snapshot_dedup(d, d.filter(F.col("doc_id") % 3 == 0))


# release novelty: fraction of 8-token windows unseen in vN-1
@_query(
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts"
    "  FROM documents),"
    " w AS (SELECT doc_id, CASE WHEN len(ts) >= 8 THEN"
    "   list_transform(range(1, len(ts) - 8 + 2),"
    "    i -> md5(array_to_string(ts[i:i+7], ' ')))"
    "  ELSE CAST([] AS VARCHAR[]) END AS hs FROM t),"
    " p AS (SELECT DISTINCT unnest(hs) AS h FROM w"
    "  WHERE doc_id % 3 = 0),"
    " e AS (SELECT doc_id, unnest(hs) AS h FROM w),"
    " c AS (SELECT e.doc_id, COUNT(*) AS nw,"
    "   SUM(CASE WHEN p.h IS NULL THEN 1 ELSE 0 END) AS nn"
    "  FROM e LEFT JOIN p ON e.h = p.h GROUP BY 1)"
    " SELECT w.doc_id,"
    "  CAST(COALESCE(nw, 0) AS BIGINT) AS n_windows,"
    "  CAST(COALESCE(nn, 0) AS BIGINT) AS n_novel,"
    "  CASE WHEN COALESCE(nw, 0) = 0 THEN 1.0"
    "   ELSE round(CAST(nn AS DOUBLE) / nw, 4) END AS novelty"
    " FROM w LEFT JOIN c USING (doc_id)"
)
def cross_snapshot_novelty(spark, sf):
    # per-doc fraction of 8-token windows unseen in the prior
    # release (docs with doc_id%3==0): prior docs score 0.0, new
    # docs score ~1.0 minus shared-boilerplate overlap
    d = _docs(spark, sf)
    return dedup.cross_snapshot_novelty(
        d, d.filter(F.col("doc_id") % 3 == 0)
    )


# per-domain cap: deterministic md5(cap0:id) order, <= 10/domain
@_query(
    "SELECT source AS domain, doc_id, CAST(rn AS INT) AS rank"
    " FROM (SELECT source, doc_id, ROW_NUMBER() OVER ("
    "  PARTITION BY source ORDER BY"
    "  md5('cap0:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn"
    "  FROM documents) WHERE rn <= 10"
)
def domain_cap(spark, sf):
    # per-domain cap: keep <= 10 docs per source under the
    # deterministic md5(cap0:doc_id) order, two-phase rank (k=10 so
    # the cap binds even at sf0.01's 25-docs-per-source layout)
    return textops.domain_cap(_docs(spark, sf), k=10)


# MOSS winnowing (k=4, w=4): per-window min of md5||lpad(pos,12)
@_query(
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts"
    "  FROM documents),"
    " g AS (SELECT doc_id, CASE WHEN len(ts) >= 4 THEN"
    "   list_transform(range(1, len(ts) - 4 + 2),"
    "    i -> md5(array_to_string(ts[i:i+3], ' ')))"
    "  ELSE CAST([] AS VARCHAR[]) END AS gs FROM t),"
    " k AS (SELECT doc_id, len(gs) AS ng,"
    "   list_transform(range(1, len(gs) + 1),"
    "    i -> gs[i] || lpad(CAST(i AS VARCHAR), 12, '0')) AS kg"
    "  FROM g)"
    " SELECT DISTINCT doc_id, CAST(w.fp[33:44] AS INT) AS pos,"
    "  w.fp[1:32] AS gram_hash"
    " FROM k, LATERAL (SELECT list_min(kg[j:j+3]) AS fp"
    "  FROM unnest(range(1, greatest(ng - 3, 1) + 1)) u(j)) w"
    " WHERE ng >= 1"
)
def winnow_fingerprint(spark, sf):
    # MOSS winnowing: min 4-gram hash per 4-gram window, positional
    # fingerprints; per-doc lambdas only, zero exchanges
    return textops.winnow_fingerprint(_docs(spark, sf))


# Unicode-script counts + argmax label (injection replayed)
@_query(_script_detect_oracle_sql())
def script_detect(spark, sf):
    # Unicode-script counts + dominant-script label
    d = _docs(spark, sf).selectExpr("doc_id", f"{_SCRIPT_INJ} AS text")
    return textops.script_detect(d)


@_query(_script_segments_oracle_sql())
def script_segments(spark, sf):
    # code-switching segmentation: 6 synthetic lines per doc —
    # (doc_id + i) % 4 == 1 lines are Cyrillic, == 2 Greek, the
    # rest 8-token Latin slices (empty tails go 'unknown'); the
    # gaps-and-islands merge runs of equal per-line script labels
    d = _docs(spark, sf)
    base = d.select("doc_id", F.split(F.col("text"), " ").alias("__ts"))
    lines = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(5))).alias("line_idx"),
        "__ts",
    ).select(
        "doc_id",
        "line_idx",
        F.when(
            (F.col("doc_id") + F.col("line_idx")) % 4 == 1,
            F.expr("repeat('ж ', CAST(doc_id % 3 AS INT) + 1)"),
        )
        .when(
            (F.col("doc_id") + F.col("line_idx")) % 4 == 2,
            F.expr(
                "repeat('π ', CAST((doc_id + line_idx) % 2 AS INT) + 1)"
            ),
        )
        .otherwise(
            F.concat_ws(
                " ",
                F.expr("slice(__ts, CAST(line_idx * 8 + 1 AS INT), 8)"),
            )
        )
        .alias("line_text"),
    )
    return textops.script_segments(lines)


# mergeable histogram quantile sketch: 64 x 32-char buckets,
# quantile = first bucket upper edge where cum*100 >= total*p
# (integer ceil test; SUM windows go HUGEINT in DuckDB — cast
# the exports back to BIGINT)
@_query(
    "WITH b AS (SELECT lang,"
    "  least(length(coalesce(text, '')) // 32, 63) AS bucket"
    "  FROM documents),"
    " c AS (SELECT lang, bucket,"
    "  CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY lang, bucket),"
    " r AS (SELECT lang, bucket, n,"
    "  SUM(n) OVER (PARTITION BY lang ORDER BY bucket) AS cum,"
    "  SUM(n) OVER (PARTITION BY lang) AS total FROM c)"
    " SELECT lang, CAST(MAX(total) AS BIGINT) AS n_docs,"
    " CAST(MIN(CASE WHEN cum * 100 >= total * 50"
    "  THEN (bucket + 1) * 32 END) AS BIGINT) AS p50_chars,"
    " CAST(MIN(CASE WHEN cum * 100 >= total * 90"
    "  THEN (bucket + 1) * 32 END) AS BIGINT) AS p90_chars,"
    " CAST(MIN(CASE WHEN cum * 100 >= total * 99"
    "  THEN (bucket + 1) * 32 END) AS BIGINT) AS p99_chars"
    " FROM r GROUP BY lang"
)
def hist_quantiles(spark, sf):
    # mergeable histogram quantile sketch over doc lengths per
    # lang: 64 x 32-char buckets, p50/p90/p99 as first-bucket
    # upper edges — fixed-size state, merges by vector addition
    return textops.hist_quantiles(_docs(spark, sf))


# URL canonicalization: same split_part/substring algebra as the
# operator (empty string on absent parts in both engines; binary
# collation sorts the query params identically)
#: url_canonicalize's five injected spellings of two logical pages
#: (uppercase host + default port + fragment + shuffled params; bare vs
#: '/' path), which must collapse to the same canonical URLs
_URL_SPELLINGS = (
    "CASE CAST(doc_id % 7 AS INT)"
    " WHEN 1 THEN text || ' ref http://Example.COM:80/a/b?b=2&a=1#frag'"
    " WHEN 2 THEN text || ' ref http://example.com/a/b?a=1&b=2'"
    " WHEN 3 THEN text || ' ref https://cdn.example.com:443/'"
    " WHEN 4 THEN text || ' ref https://cdn.example.com/'"
    " WHEN 5 THEN text || ' ref https://Mixed.Example.com/Path/?z=1&y=2&x=3'"
    " ELSE text END"
)


@_query(
    f"WITH inj AS (SELECT doc_id, {_URL_SPELLINGS} AS t FROM documents),"
    " u AS (SELECT doc_id, unnest(regexp_extract_all(t,"
    "  'https?://[A-Za-z0-9.:/_?&=#%-]+')) AS url FROM inj),"
    " p1 AS (SELECT doc_id, url,"
    "  split_part(split_part(url, '#', 1), '?', 1) AS base,"
    "  split_part(split_part(url, '#', 1), '?', 2) AS q FROM u),"
    " p2 AS (SELECT *, split_part(base, '://', 1) AS scheme,"
    "  split_part(split_part(base, '://', 2), '/', 1) AS hp"
    "  FROM p1),"
    " p3 AS (SELECT *, lower(split_part(hp, ':', 1)) AS host,"
    "  split_part(hp, ':', 2) AS port,"
    "  substring(base, length(scheme) + 3 + length(hp) + 1) AS path"
    "  FROM p2),"
    " c AS (SELECT doc_id, url, scheme || '://' ||"
    "  CASE WHEN port = '' OR (scheme = 'http' AND port = '80')"
    "    OR (scheme = 'https' AND port = '443')"
    "   THEN host ELSE host || ':' || port END ||"
    "  CASE WHEN path = '/' THEN '' ELSE path END ||"
    "  CASE WHEN q = '' THEN '' ELSE '?' ||"
    "   array_to_string(list_sort(string_split(q, '&')), '&') END"
    "  AS canon_url FROM p3)"
    " SELECT canon_url, COUNT(*) AS n_refs,"
    " CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants,"
    " MIN(doc_id) AS first_doc FROM c GROUP BY canon_url"
)
def url_canonicalize(spark, sf):
    injected = _docs(spark, sf).selectExpr("doc_id", f"{_URL_SPELLINGS} AS text")
    return textops.url_canonicalize(injected)


# text sanitation: CRLF/CR -> LF, strip C0 controls (keep \t\n),
# then NFC — utf8proc's nfc_normalize agrees with Python's
# unicodedata; injection replayed via chr() code points
#: text_sanitize's injected mess by doc_id%6: decomposed combining
#: accents (NFC must compose), CRLF + lone CR, C0 control chars, and the
#: U+212B Å singleton. The characters sit raw inside the literals: Spark's
#: chr(n) takes n mod 256.
_MESSY_TEXT = (
    "CASE CAST(doc_id % 6 AS INT)"
    " WHEN 1 THEN text || ' cafe\u0301 nai\u0308ve'"
    " WHEN 2 THEN text || '\r\nline2\rline3'"
    " WHEN 3 THEN text || ' bad\x01ctrl\x07here'"
    " WHEN 4 THEN text || ' \u212bngstrom'"
    " ELSE text END"
)


@_query(
    f"WITH inj AS (SELECT doc_id, {_MESSY_TEXT} AS t FROM documents),"
    " s AS (SELECT doc_id, t, regexp_replace(regexp_replace("
    "  regexp_replace(t, '\\r\\n', chr(10), 'g'),"
    "  '\\r', chr(10), 'g'),"
    "  '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g') AS st"
    "  FROM inj)"
    " SELECT doc_id, nfc_normalize(st) AS text_clean,"
    " CAST(length(t) - length(st) AS BIGINT) AS n_removed,"
    " t != nfc_normalize(st) AS changed FROM s"
)
def text_sanitize(spark, sf):
    # the oracle replays sanitation via regexp_replace + nfc_normalize
    injected = _docs(spark, sf).selectExpr("doc_id", f"{_MESSY_TEXT} AS text")
    return textops.text_sanitize(injected)


@_query(
    _SIMHASH_V
    + ", sims AS (SELECT d.doc_id, COALESCE(v.vu, 0::HUGEINT) AS vu"
    "   FROM documents d LEFT JOIN v ON v.doc_id = d.doc_id),"
    " bands AS (SELECT doc_id, CAST(j.j AS INT) AS band_idx,"
    "   CAST((vu >> CAST(16*j.j AS INT)) & 65535 AS INT) AS band_val"
    "  FROM sims, LATERAL unnest(range(0, 4)) j(j))"
    " SELECT band_idx, band_val, COUNT(*) AS n_docs,"
    "  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc"
    " FROM bands GROUP BY band_idx, band_val HAVING COUNT(*) > 1"
)
def dedup_simhash_candidates(spark, sf):
    return dedup.simhash_candidate_groups(_docs(spark, sf))


# MJPEG frame sampling: flat-gray frames round-trip exactly at
# q90, so dims AND mean_px are arithmetic in (vec_id, frame_idx)
@_query(
    "SELECT e.vec_id, CAST(u.f AS INTEGER) AS frame_idx,"
    " CAST(e.vec_id % 16 + 8 AS INTEGER) AS width,"
    " CAST(e.vec_id % 8 + 8 AS INTEGER) AS height,"
    " CAST((e.vec_id * 7 + u.f * 13) % 256 AS DOUBLE) AS mean_px"
    " FROM (SELECT vec_id FROM embeddings WHERE vec_id < 150) e,"
    " LATERAL unnest(range(0, e.vec_id % 4 + 2)) u(f)"
    " WHERE u.f % 2 = 0"
)
def multimodal_video_frames(spark, sf):
    return multimodal.video_frame_sample(
        _mjpeg_fixture(spark, sf), every_n=2
    )


@_query(_ivf_oracle_sql())
def ann_ivf_topk(spark, sf):
    emb = _tbl(spark, sf, "embeddings")
    return similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)


# md5-derived int16 samples replayed from md5() hex (the image
# md5-pixel scheme widened to 16-bit audio): sample i = signed LE
# int16 of digest bytes (2i, 2i+1) of md5('wav:<id>:<i//8>')
@_query(
    "WITH m AS (SELECT vec_id, CAST(vec_id % 40 + 8 AS BIGINT) AS n"
    "  FROM embeddings WHERE vec_id < 200),"
    " s AS (SELECT m.vec_id, m.n, u.i AS i"
    "  FROM m, LATERAL unnest(range(0, m.n)) u(i)),"
    " b AS (SELECT vec_id, n, "
    + _MD5_BYTE.format(key="'wav:'", b="(2*i)")
    + " AS lo, "
    + _MD5_BYTE.format(key="'wav:'", b="(2*i+1)")
    + " AS hi FROM s),"
    " v AS (SELECT vec_id, n, CASE WHEN lo + 256*hi >= 32768"
    "  THEN lo + 256*hi - 65536 ELSE lo + 256*hi END AS val FROM b)"
    " SELECT vec_id, ROUND(AVG(ABS(val)), 4) AS mean_abs,"
    "  CAST(MAX(n) AS BIGINT) AS n_frames"
    " FROM v GROUP BY vec_id"
)
def multimodal_audio_features(spark, sf):
    return multimodal.audio_features(_wav_fixture(spark, sf)).select(
        "vec_id", F.round("mean_abs", 4).alias("mean_abs"), "n_frames"
    )


@_query(
    _LSH_CODES
    + ", cand AS (SELECT DISTINCT a.vec_id AS keeper, b.vec_id AS dup_id"
    "  FROM codes a JOIN codes b USING (table_idx, bucket)"
    "  WHERE a.vec_id < b.vec_id)"
    " SELECT cand.keeper, cand.dup_id,"
    "  ROUND(list_dot_product(ea.v, eb.v) /"
    "   (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 4)"
    "   AS cosine_r"
    " FROM cand JOIN e ea ON ea.vec_id = cand.keeper"
    "  JOIN e eb ON eb.vec_id = cand.dup_id"
    " WHERE ROUND(list_dot_product(ea.v, eb.v) /"
    "  (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 4)"
    "  >= 0.35"
)
def dedup_embedding_cosine(spark, sf):
    # corpus-level registered form: LSH bucket candidates → exact
    # verify; never an all-pairs nested-loop join
    return dedup.embedding_cosine_dedup_lsh(_tbl(spark, sf, "embeddings"))


@_query(
    "WITH shing0 AS MATERIALIZED (SELECT doc_id, "
    + _SH_SENTINEL
    + " AS s FROM documents),"
    f" sig AS MATERIALIZED (SELECT doc_id, {_MINHASH_COLS} FROM shing0),"
    f" bands AS ({_BANDS_16x4})"
    " SELECT band_idx, band_key, COUNT(*) AS n_docs,"
    "  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc"
    " FROM bands GROUP BY band_idx, band_key HAVING COUNT(*) > 1"
)
def dedup_minhash_lsh(spark, sf):
    return dedup.lsh_candidate_groups(_docs(spark, sf))


@_query(
    _LSH_CODES
    + ", cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id"
    "  FROM codes c JOIN codes q USING (table_idx, bucket)"
    "  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),"
    " scored AS (SELECT cand.q_id, cand.vec_id AS neighbor_id,"
    "  ROUND(list_dot_product(qe.v, ce.v) /"
    "   (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))), 4)"
    "   AS cosine_r"
    "  FROM cand JOIN e qe ON qe.vec_id = cand.q_id"
    "   JOIN e ce ON ce.vec_id = cand.vec_id),"
    " r AS (SELECT q_id, neighbor_id, cosine_r, ROW_NUMBER() OVER"
    "  (PARTITION BY q_id ORDER BY cosine_r DESC, neighbor_id) AS rank"
    "  FROM scored)"
    " SELECT q_id, neighbor_id, rank, cosine_r FROM r WHERE rank <= 3"
)
def ann_lsh_bucketed(spark, sf):
    emb = _tbl(spark, sf, "embeddings")
    return similarity.lsh_bucketed_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=3
    )


# Connected components replayed with a recursive CTE: LSH
# candidates → exact shingle-Jaccard verify ≥ 0.5 (the verify
# gate keeps closure honest regardless of banding precision) →
# walk closes each component, then MIN(label) per node — the
# exact value the iterative Spark propagation converges to.
@_query(
    _LSH_VERIFY_PREFIX
    + ", pairs AS MATERIALIZED (" + _VERIFIED_PAIRS_SELECT("a, b") + "),"
    " edges AS (SELECT a AS src, b AS dst FROM pairs"
    "  UNION ALL SELECT b, a FROM pairs),"
    " walk(id, label) AS ("
    "  SELECT doc_id, doc_id FROM documents"
    "  UNION"
    "  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id)"
    " SELECT id AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY id"
)
def dedup_clusters(spark, sf):
    return dedup.duplicate_clusters(_docs(spark, sf))


# Bloom-filter dedup: k=4 positions per doc from md5('i:'||text)
# reduced mod m=2^20 (md5_number int128 ≡ little-endian low-3-
# byte value mod m for m dividing 2^24); a doc is a duplicate
# iff EVERY position was also set by a lower-id doc.
#: bloom_dedup's duplicates: two id families share one constant payload,
#: so the lowest id in each md5-position orbit survives and every later
#: copy raises is_duplicate
_BLOOM_TEXT = f"CASE WHEN doc_id % 17 IN (3, 8) THEN '{_BLOOM_DUP_TEXT}' ELSE text END"


@_query(
    f"WITH inj AS (SELECT doc_id, {_BLOOM_TEXT} AS t FROM documents),"
    " pos AS (SELECT DISTINCT doc_id,"
    "  ((md5_number(CAST(h.i AS VARCHAR) || ':' || t) % 1048576)"
    "   + 1048576) % 1048576 AS p"
    "  FROM inj CROSS JOIN (SELECT unnest([0,1,2,3]) AS i) h),"
    " firsts AS (SELECT p, MIN(doc_id) AS first_id"
    "  FROM pos GROUP BY p)"
    " SELECT pos.doc_id, COUNT(*) AS n_bits,"
    " CAST(SUM(CASE WHEN f.first_id < pos.doc_id THEN 1 ELSE 0 END)"
    "  AS BIGINT) AS n_prior_bits,"
    " SUM(CASE WHEN f.first_id < pos.doc_id THEN 1 ELSE 0 END)"
    "  = COUNT(*) AS is_duplicate"
    " FROM pos JOIN firsts f USING (p) GROUP BY pos.doc_id"
)
def bloom_dedup(spark, sf):
    # the oracle replays the k=4 bit positions (md5_number mod m ≡ the
    # little-endian low-3-byte reduction for m | 2^24)
    d = _docs(spark, sf).selectExpr("doc_id", f"{_BLOOM_TEXT} AS text")
    return dedup.bloom_dedup(d)


@_query(_semdedup_oracle_sql())
def semdedup(spark, sf):
    # SemDedup: IVF k-means cells (the SQL-replayed quantized
    # training) + within-cell pairwise cosine; kept = no lower-id
    # in-cell neighbor at cosine >= threshold. 0.35 is passed
    # EXPLICITLY (the operator's default is the paper-regime 0.9):
    # the synthetic embeddings are near-orthogonal, so a low
    # threshold is what actually exercises drops here.
    return dedup.semdedup(_tbl(spark, sf, "embeddings"), threshold=0.35)


# average-hash signatures over the md5-pixel fixture images
@_query(
    _ahash_oracle_cte()
    + " SELECT vec_id, ahash_hex, band0, band1, band2, band3 FROM h"
)
def image_ahash(spark, sf):
    # perceptual average-hash signatures over the fixture images
    return multimodal.image_ahash(_ahash_payloads(spark, sf))


# banded near-dup pairs, exact hamming <= 3 filter
@_query(
    _ahash_oracle_cte()
    + ", bq AS (SELECT vec_id, u.k AS band_idx,"
    "  CASE u.k WHEN 0 THEN band0 WHEN 1 THEN band1"
    "   WHEN 2 THEN band2 ELSE band3 END AS band_val"
    "  FROM h, LATERAL unnest(range(0, 4)) u(k)),"
    " p AS (SELECT DISTINCT l.vec_id AS keeper, r.vec_id AS dup_id"
    "  FROM bq l JOIN bq r ON l.band_idx = r.band_idx"
    "   AND l.band_val = r.band_val AND l.vec_id < r.vec_id)"
    " SELECT keeper, dup_id,"
    "  CAST(bit_count(xor(a.band0, c.band0))"
    "   + bit_count(xor(a.band1, c.band1))"
    "   + bit_count(xor(a.band2, c.band2))"
    "   + bit_count(xor(a.band3, c.band3)) AS INT) AS hamming"
    " FROM p JOIN h a ON a.vec_id = keeper"
    "  JOIN h c ON c.vec_id = dup_id"
    " WHERE bit_count(xor(a.band0, c.band0))"
    "  + bit_count(xor(a.band1, c.band1))"
    "  + bit_count(xor(a.band2, c.band2))"
    "  + bit_count(xor(a.band3, c.band3)) <= 3"
)
def image_ahash_candidates(spark, sf):
    # banded near-dup pairs (hamming <= 3) over the same images:
    # the injected exact/one-byte-perturbed families must pair up
    return multimodal.image_ahash_candidates(
        multimodal.image_ahash(_ahash_payloads(spark, sf))
    )


# per-label centroid-direction cosine: micro-unit ints, HUGEINT
# dot/norms (order-free), one double cast + sqrt + div + round
@_query(
    "WITH v AS (SELECT vec_id, label,"
    "  list_transform(embedding::DOUBLE[],"
    "   x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vm"
    "  FROM embeddings),"
    " e AS (SELECT label, u.i AS d, vm[CAST(u.i AS INT)] AS x"
    "  FROM v, LATERAL unnest(range(1, len(vm) + 1)) u(i)),"
    " s AS (SELECT label, d, SUM(x) AS sx FROM e GROUP BY 1, 2),"
    " c AS (SELECT label, list(sx ORDER BY d) AS cv FROM s"
    "  GROUP BY 1),"
    " z AS (SELECT vec_id, v.label,"
    "  list_sum(list_transform(range(1, len(vm) + 1),"
    "   i -> vm[CAST(i AS INT)]::HUGEINT"
    "    * cv[CAST(i AS INT)]::HUGEINT)) AS dot,"
    "  list_sum(list_transform(vm, x -> x::HUGEINT * x::HUGEINT))"
    "   AS nv,"
    "  list_sum(list_transform(cv, x -> x::HUGEINT * x::HUGEINT))"
    "   AS nc"
    "  FROM v JOIN c USING (label))"
    " SELECT vec_id, label, cosr AS cos_centroid,"
    "  cosr < 0.0 AS is_outlier FROM ("
    "  SELECT vec_id, label, CASE WHEN nv = 0 OR nc = 0 THEN 0.0"
    "   ELSE round(CAST(dot AS DOUBLE) / (sqrt(CAST(nv AS DOUBLE))"
    "    * sqrt(CAST(nc AS DOUBLE))), 4) END AS cosr FROM z)"
)
def embedding_outliers(spark, sf):
    # per-label centroid-direction cosine (integer micro-unit
    # quantization, HUGEINT-exact dot/norms, broadcast centroids)
    return similarity.embedding_outliers(_tbl(spark, sf, "embeddings"))


# release diff: presence flags + null-safe digest equality
# (mirrors the operator exactly, incl. NULL-text documents)
#: snapshot_diff's prior release (docs with doc_id%3==0): text amended
#: for %6==0, which must read 'changed'
_V1_TEXT = "CASE WHEN doc_id % 6 = 0 THEN text || ' [v1]' ELSE text END"


@_query(
    "SELECT doc_id,"
    " CASE WHEN c.pc IS NULL THEN 'removed'"
    "  WHEN p.pp IS NULL THEN 'added'"
    "  WHEN c.h IS NOT DISTINCT FROM p.h THEN 'unchanged'"
    "  ELSE 'changed' END AS status"
    " FROM (SELECT doc_id, md5(text) AS h, 1 AS pc FROM documents"
    "  WHERE doc_id % 12 <> 3) c"
    f" FULL JOIN (SELECT doc_id, md5({_V1_TEXT}) AS h, 1 AS pp"
    "  FROM documents WHERE doc_id % 3 = 0) p USING (doc_id)"
)
def snapshot_diff(spark, sf):
    # release diff: current drops ids ≡3 (mod 12) → 'removed';
    # digest-only full outer join on the id
    d = _docs(spark, sf)
    prior = d.filter("doc_id % 3 = 0").selectExpr("doc_id", f"{_V1_TEXT} AS text")
    cur = d.filter(F.col("doc_id") % 12 != 3)
    return dedup.snapshot_diff(cur, prior)


@_query(
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem"
    " WHERE l_linenumber BETWEEN 2 AND 5"
)
def page_range_filter(spark, sf):
    return relational.range_filter(
        _tbl(spark, sf, "lineitem"), "l_linenumber", 2, 5
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@_query(
    "SELECT doc_id, lang AS a, '' AS b FROM documents"
    " UNION ALL"
    " SELECT doc_id + 1000000 AS doc_id, '' AS a, source AS b FROM documents"
)
def schema_align_union(spark, sf):
    d = _docs(spark, sf)
    a = d.select("doc_id", F.col("lang").alias("a"))
    b = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), F.col("source").alias("b")
    )
    return relational.align_union([a, b])


@_query(
    "SELECT o_orderkey, o_custkey, ROW_NUMBER() OVER"
    " (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS row_num"
    " FROM orders"
)
def row_order_reconstruct(spark, sf):
    return relational.row_order(
        _tbl(spark, sf, "orders"), "o_custkey", ["o_orderdate", "o_orderkey"]
    ).select("o_orderkey", "o_custkey", "row_num")


@_query(
    # one single-row json page per doc; odd docs lack column n →
    # align ""-fills it wherever the conversation saw n on some
    # other (even) page; null tokens in w clean to NULL before fill
    "WITH d AS (SELECT CAST(doc_id // 8 AS VARCHAR) AS conv_id,"
    "  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id // 8 ORDER BY doc_id) - 1"
    "       AS INTEGER) AS row_seq,"
    "  string_split(text, ' ')[1] AS w,"
    "  doc_id % 2 = 0 AS has_n,"
    "  CAST(n_chars AS VARCHAR) AS n_str,"
    "  bool_or(doc_id % 2 = 0) OVER (PARTITION BY doc_id // 8) AS conv_has_n"
    " FROM documents)"
    " SELECT conv_id, row_seq, 0 AS col_idx, 'w' AS col_name,"
    "  CASE WHEN w IN ('','nan','NaN','null','NULL') THEN NULL ELSE w END AS cell"
    " FROM d"
    " UNION ALL"
    " SELECT conv_id, row_seq, 1, 'n',"
    "  CASE WHEN has_n THEN n_str ELSE '' END"
    " FROM d WHERE conv_has_n"
)
def conversation_assembly(spark, sf):
    return xq.conversation_assembly_query(_docs(spark, sf))


_ROUTE = (
    "CASE WHEN lower(source) LIKE '%0' THEN 'pdf'"
    " WHEN lower(source) LIKE '%1' THEN 'image' ELSE 'unsupported' END AS route"
)


@_query(
    f"SELECT doc_id, source, {_ROUTE}"
    " FROM documents WHERE lower(source) LIKE '%0' OR lower(source) LIKE '%1'"
)
def source_file_scan(spark, sf):
    # reference: validate + dispatch by extension whitelist
    # (scripts/ExtractX_OCR.py:514-527); unsupported → skipped (empty)
    d = _docs(spark, sf).selectExpr("doc_id", "source", _ROUTE)
    return d.filter("route <> 'unsupported'")


@_query(
    "SELECT doc_id, CAST(u.i AS INT) AS page_idx, s[CAST(u.i AS INT)] AS page"
    " FROM (SELECT doc_id, string_split(text,' ') AS s FROM documents) t,"
    " LATERAL unnest(range(1, len(t.s)+1)) u(i)"
    " WHERE length(s[CAST(u.i AS INT)]) > 0"
)
def pdf_page_explode(spark, sf):
    from ocr_spark.operators import pages

    return pages.explode_pages(_docs(spark, sf), sep=" ")


@_query(
    # attempts budget is 3: n = doc_id%4 transient faults converge
    # for n<=2 (payload = first word), exhaust for n==3 (sentinel)
    "SELECT doc_id,"
    " CASE WHEN doc_id % 4 = 3 THEN '' ELSE string_split(text, ' ')[1] END"
    "  AS extracted_text,"
    " CASE WHEN doc_id % 4 = 3 THEN 'error'"
    "  WHEN length(string_split(text, ' ')[1]) > 0 THEN 'ok'"
    "  ELSE 'empty' END AS status"
    " FROM documents"
)
def retry_backoff(spark, sf):
    # the reference's retry seam (scripts/ExtractX_OCR.py:366-430):
    # ≤3 attempts, then degrade to sentinel. Deterministic fault
    # injection: doc_id%4 transient failures per turn — %4==3 exhausts
    # the budget (status error, empty text), the rest converge. Runs
    # through the REAL salted mapInArrow extraction stage.
    from ocr_spark.pipeline import extract_stage

    docs = _docs(spark, sf)
    transcripts = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(
            F.lit("fail:"),
            (F.col("doc_id") % 4).cast("string"),
            F.lit(":"),
            F.split(F.col("text"), " ").getItem(0),
        ).alias("text"),
        F.lit("flaky").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )
    out = extract_stage(transcripts, num_parts=16, turn_bucket=64)
    return (
        out.filter(F.col("rec") == "data")
        .select(
            F.col("conv_id").cast("long").alias("doc_id"),
            "extracted_text",
            "status",
        )
    )


# exact integer micro-units over a common denominator + integer
# round-half-up: double term-sums straddle ROUND boundaries at
# scale (observed sf0.1), so no float ever enters the score
@_query(
    "WITH b AS (SELECT doc_id,"
    " length(text)::HUGEINT AS nc,"
    " len(string_split(text,' '))::HUGEINT AS nt,"
    f" len(list_filter(string_split(text,' '), t -> t IN ({_STOPLIST})))::HUGEINT AS ns,"
    " length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))::HUGEINT AS nn"
    " FROM documents),"
    " s AS (SELECT doc_id, nc,"
    "  least(nc, 500)*nt*nc + 300*ns*nc + 200*nt*(nc - nn) AS num,"
    "  1000*nt*nc AS den FROM b)"
    " SELECT doc_id, CASE WHEN nc = 0 THEN NULL"
    "  ELSE CAST((20000*num + den) // (2*den) AS BIGINT) / 10000.0"
    "  END AS quality FROM s"
)
def quality_score(spark, sf):
    return textops.quality_score(_docs(spark, sf))


@_query(
    "SELECT doc_id, md5(text) AS fp_exact,"
    " md5(array_to_string(list_sort("
    + _SHINGLES.format(col="text")
    + "), '|')) AS fp_shingle FROM documents"
)
def doc_fingerprint(spark, sf):
    return textops.doc_fingerprint(_docs(spark, sf))


# PII injection (doc_id%4) + RE2 scrub replayed verbatim; DuckDB
# needs the explicit 'g' flag Spark applies implicitly
#: pii_scrub's PII by doc_id%4 (none / email / ip / phone)
_PII_TEXT = (
    "CASE WHEN doc_id % 4 = 1"
    " THEN text || ' reach me at ' || split_part(text, ' ', 1) || '@example.com thanks'"
    " WHEN doc_id % 4 = 2"
    " THEN text || ' server 10.' || CAST(doc_id % 200 AS STRING) || '.0.1 up'"
    " WHEN doc_id % 4 = 3 THEN text || ' call 555-123-4567 now'"
    " ELSE text END"
)


@_query(
    f"WITH inj AS (SELECT doc_id, {_PII_TEXT} AS t FROM documents)"
    " SELECT doc_id,"
    " CAST(len(regexp_extract_all(t,"
    "  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS BIGINT) AS n_email,"
    " CAST(len(regexp_extract_all(t,"
    "  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ip,"
    " CAST(len(regexp_extract_all(t,"
    "  '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS BIGINT) AS n_phone,"
    " regexp_replace(regexp_replace(regexp_replace(t,"
    "  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),"
    "  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),"
    "  '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS scrubbed"
    " FROM inj"
)
def pii_scrub(spark, sf):
    # the JVM-side scrubber: category counts for lineage + the scrubbed
    # text. The oracle replays scrubbing in DuckDB's RE2 — the patterns
    # are the cross-engine-compatible subset (textops.PII_PATTERNS).
    d = _docs(spark, sf).selectExpr("doc_id", f"{_PII_TEXT} AS text")
    return textops.pii_scrub(d)


# repetition injection (doc_id%3==0: first-5-words appended ×2)
# + duplicate-word / duplicate-3-gram fractions
#: repetition_score's repeats: doc_id%3==0 docs get their first 5 words
#: appended twice, so the corpus exercises the duplicate fractions and
#: the boilerplate flag
_FIVE_WORDS = "regexp_extract(text, '^[^ ]*( [^ ]*){0,4}', 0)"
_REPEAT_TEXT = (
    f"CASE WHEN doc_id % 3 = 0"
    f" THEN text || ' ' || {_FIVE_WORDS} || ' ' || {_FIVE_WORDS}"
    " ELSE text END"
)


@_query(
    f"WITH inj AS (SELECT doc_id, {_REPEAT_TEXT} AS t FROM documents),"
    " g AS (SELECT doc_id, string_split(t,' ') AS w,"
    "  CASE WHEN len(string_split(t,' ')) < 3"
    "   THEN CAST([] AS VARCHAR[])"
    "   ELSE list_transform(range(1, len(string_split(t,' ')) - 1),"
    "    i -> array_to_string(list_slice(string_split(t,' '), i, i+2), ' '))"
    "  END AS grams FROM inj)"
    " SELECT doc_id,"
    " ROUND(1.0 - CAST(len(list_distinct(w)) AS DOUBLE)/len(w), 4)"
    "  AS dup_word_frac,"
    " ROUND(CASE WHEN len(grams) = 0 THEN 0.0 ELSE"
    "  1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)/len(grams) END, 4)"
    "  AS dup_3gram_frac,"
    " (1.0 - CAST(len(list_distinct(w)) AS DOUBLE)/len(w)) > 0.3"
    "  AS is_repetitive"
    " FROM g"
)
def repetition_score(spark, sf):
    # C4/Gopher-style repetition signal
    d = _docs(spark, sf).selectExpr("doc_id", f"{_REPEAT_TEXT} AS text")
    return textops.repetition_score(d)


# URL injection (doc_id%3) + RE2 extraction, sorted distinct
# domains, blocklist suffix flag — replayed verbatim
@_query(
    f"WITH inj AS (SELECT doc_id, {_LINK_TEXT} AS t FROM documents),"
    " d AS (SELECT doc_id, t,"
    "  list_sort(list_distinct(list_transform("
    "   regexp_extract_all(t, 'https?://[a-z0-9./_-]+'),"
    "   u -> regexp_extract(u, 'https?://([a-z0-9.-]+)', 1)))) AS doms"
    "  FROM inj)"
    " SELECT doc_id,"
    " CAST(len(regexp_extract_all(t, 'https?://[a-z0-9./_-]+'))"
    "  AS BIGINT) AS n_urls,"
    # DuckDB array_to_string([]) is NULL; Spark concat_ws is ''
    " COALESCE(array_to_string(doms, '|'), '') AS domains,"
    " len(list_filter(doms, x -> x = 'tracker.net'"
    "  OR x LIKE '%.tracker.net')) > 0 AS blocked"
    " FROM d"
)
def url_extract(spark, sf):
    # the JVM-side extractor: URL count, sorted distinct domains,
    # blocklist flag. The oracle replays extraction in DuckDB's RE2.
    d = _docs(spark, sf).selectExpr("doc_id", f"{_LINK_TEXT} AS text")
    return textops.url_extract(d)


# α=0.5 temperature mixture: √share in integer micro-units
# (sqrt is IEEE-exact in both engines; CAST rounds in DuckDB so
# floor() is explicit), exact-integer normalizer Z
@_query(
    "WITH tot AS (SELECT COUNT(*) AS n_total FROM documents),"
    " per AS (SELECT source, COUNT(*) AS n_domain FROM documents"
    "  GROUP BY source),"
    " mu AS (SELECT source, n_domain, n_total,"
    "  CAST(floor(sqrt(CAST(n_domain AS DOUBLE)/n_total) * 1000000)"
    "   AS BIGINT) AS mu FROM per, tot),"
    " z AS (SELECT CAST(SUM(mu) AS BIGINT) AS z FROM mu)"
    " SELECT d.doc_id, d.source, CAST(m.n_domain AS BIGINT)"
    "  AS n_domain,"
    " ROUND((CAST(m.mu AS DOUBLE)/z.z) /"
    "  (CAST(m.n_domain AS DOUBLE)/m.n_total), 6) AS mix_weight"
    " FROM documents d JOIN mu m USING (source), z"
)
def domain_mix(spark, sf):
    # α=0.5 temperature mixture over the real `source` column:
    # per-domain up/down-sampling factor q/p, √ + integer
    # micro-units so the oracle replays bit-for-bit
    return textops.domain_mix(_docs(spark, sf))


@_query(
    "WITH b AS (SELECT doc_id, doc_id % 64 AS shard,"
    "  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens"
    "  FROM documents WHERE text IS NOT NULL),"
    " o AS (SELECT doc_id, shard, n_tokens,"
    "  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard"
    "   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND"
    "   1 PRECEDING), 0) AS BIGINT) AS start_off FROM b)"
    " SELECT doc_id, shard, n_tokens, start_off,"
    " CAST(floor(start_off / 512) AS BIGINT) AS seq_idx,"
    " CAST(start_off % 512 AS BIGINT) AS pos_in_seq FROM o"
)
def pack_sequences(spark, sf):
    # training-batch assembly: concatenate docs in doc_id order
    # within doc_id%64 shards, cut every 512 tokens; each doc gets
    # (seq_idx, pos_in_seq) — integer arithmetic, exact oracle
    return textops.pack_sequences(_docs(spark, sf))


# Fake pixels are md5-derived (byte b of the image = digest byte
# b%16 of md5('img:<vec_id>:<b//16>')), so the 4x4 nearest-neighbor
# resample + mean replays exactly: sampled rows/cols are
# trunc(i*(dim-1)/3) (numpy linspace + astype(int)), and the mean
# of 16 small ints is exact in double as SUM/16.
@_query(
    "WITH m AS (SELECT vec_id, CAST(label % 16 + 1 AS INT) AS w,"
    "  CAST(vec_id % 8 + 1 AS INT) AS h FROM embeddings),"
    " idx AS (SELECT m.vec_id, m.w,"
    "  CAST(floor(CAST(yi.i*(m.h-1) AS DOUBLE)/3.0) AS INT) AS y,"
    "  CAST(floor(CAST(xi.i*(m.w-1) AS DOUBLE)/3.0) AS INT) AS x"
    "  FROM m, LATERAL unnest(range(0,4)) yi(i),"
    "   LATERAL unnest(range(0,4)) xi(i)),"
    " px AS (SELECT vec_id,"
    "  (strpos('0123456789abcdef', substr(md5('img:' || CAST(vec_id AS VARCHAR)"
    "    || ':' || CAST((y*w+x)//16 AS VARCHAR)), 2*((y*w+x)%16)+1, 1))-1)*16"
    "  + (strpos('0123456789abcdef', substr(md5('img:' || CAST(vec_id AS VARCHAR)"
    "    || ':' || CAST((y*w+x)//16 AS VARCHAR)), 2*((y*w+x)%16)+2, 1))-1) AS b"
    "  FROM idx)"
    " SELECT vec_id, SUM(b)/16.0 AS mean_px,"
    "  CAST(4 AS INT) AS resized_h, CAST(4 AS INT) AS resized_w"
    " FROM px GROUP BY vec_id"
)
def multimodal_features(spark, sf):
    return multimodal.image_features(_fake_images(spark, sf), target=(4, 4))


# WAV header fields are pure functions of vec_id → the oracle
# validates the RIFF chunk walk arithmetically
@_query(
    "SELECT vec_id, 'WAV' AS fmt,"
    " CAST(8000 + (vec_id % 8) * 1000 AS INTEGER) AS sample_rate,"
    " CAST(vec_id % 2 + 1 AS INTEGER) AS channels,"
    " CAST(16 AS INTEGER) AS bits,"
    " CAST(vec_id % 50 + 10 AS BIGINT) AS n_frames,"
    " TRUE AS valid FROM embeddings WHERE vec_id < 300"
)
def multimodal_audio_meta(spark, sf):
    # REAL PCM WAV containers through the header-only metadata scan:
    # every field is a pure function of vec_id, so the oracle checks
    # the RIFF parse without a decoder (kernels/wav.py)
    import numpy as np

    from ocr_spark.kernels.wav import encode_wav

    emb = _tbl(spark, sf, "embeddings").select("vec_id").filter(
        F.col("vec_id") < 300
    )

    def enc(v: int) -> bytes:
        n, ch = v % 50 + 10, v % 2 + 1
        samples = np.zeros((n, ch), dtype=np.int16)
        return encode_wav(samples, rate=8000 + (v % 8) * 1000)

    return multimodal.audio_meta(_payloads(emb, enc))


@_query(
    _LSH_VERIFY_PREFIX
    + " " + _VERIFIED_PAIRS_SELECT("a, b, jac AS jaccard")
)
def dedup_verified_pairs(spark, sf):
    # the candidates→verify stage alone: LSH pairs scored with exact
    # shingle-Jaccard, threshold 0.5 (the edges dedup_clusters closes)
    return dedup.verified_dup_pairs(_docs(spark, sf))


@_query(
    "WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv"
    "  FROM embeddings WHERE vec_id < 5),"
    " c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv"
    "  FROM embeddings),"
    " s AS (SELECT q_id, neighbor_id,"
    "  ROUND(list_dot_product(qv, cv) /"
    "   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4)"
    "   AS cosine_r"
    "  FROM q, c WHERE neighbor_id <> q_id),"
    " r AS (SELECT q_id, neighbor_id, cosine_r, ROW_NUMBER() OVER"
    "  (PARTITION BY q_id ORDER BY cosine_r DESC, neighbor_id) AS rank FROM s)"
    " SELECT q_id, neighbor_id, rank, cosine_r FROM r WHERE rank <= 3"
)
def ann_cosine_topk(spark, sf):
    emb = _tbl(spark, sf, "embeddings")
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)


@_query(_ivf_pq_oracle_sql(rerank=32))
def ann_ivf_pq(spark, sf):
    # FAISS-IVFPQ shape: coarse probe → PQ asymmetric-distance
    # scoring on ~12-byte codes → exact rerank on the top-32
    # survivors only (similarity.ivf_pq_topk); the oracle replays
    # BOTH quantizer trainings in SQL
    emb = _tbl(spark, sf, "embeddings")
    return similarity.ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=3, rerank=32
    )


@_query(
    "SELECT doc_id, CASE"
    " WHEN n_chars % 6 IN (0,1,2,3,4) THEN NULL"
    " ELSE string_split(text,' ')[1] END AS cleaned FROM documents"
)
def null_token_clean(spark, sf):
    return xq.null_clean_query(_docs(spark, sf))


@_query(
    "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_linenumber <= 3"
)
def limit_first_n_pages(spark, sf):
    return relational.prefix_limit(
        _tbl(spark, sf, "lineitem"), "l_linenumber", 3
    ).select("l_orderkey", "l_linenumber")


@_query(
    "SELECT o_custkey, COUNT(*) AS n_pages FROM orders GROUP BY o_custkey"
)
def page_count_scan(spark, sf):
    return relational.group_count(
        _tbl(spark, sf, "orders"), "o_custkey", out_col="n_pages"
    )


@_query(
    "SELECT event_id, event_type FROM events"
    " WHERE props IS NOT NULL AND length(props) > 0"
)
def empty_result_filter(spark, sf):
    return relational.nonempty_filter(_tbl(spark, sf, "events"), "props").select(
        "event_id", "event_type"
    )


@_query(
    "SELECT doc_id, source FROM documents WHERE lower(source) LIKE '%1'"
)
def extension_predicate(spark, sf):
    return relational.suffix_filter(_docs(spark, sf), "source", "1").select(
        "doc_id", "source"
    )


@_query(
    "SELECT doc_id, len(string_split(text,' ')) AS n_tokens,"
    " len(regexp_extract_all(text, '[a-z0-9]+')) AS n_words FROM documents"
)
def token_count(spark, sf):
    return textops.token_count(_docs(spark, sf))


@_query(
    "SELECT doc_id, CASE WHEN"
    f" (len(list_filter(string_split(text,' '), t -> t IN ({_STOPLIST})))"
    "  / CAST(len(string_split(text,' ')) AS DOUBLE)) >= 0.05"
    " THEN 'en' ELSE 'unk' END AS pred_lang FROM documents"
)
def lang_id(spark, sf):
    return textops.lang_id(_docs(spark, sf))


@_query(
    "WITH toks AS (SELECT doc_id AS did,"
    "  unnest(string_split(text,' ')) AS token FROM documents),"
    " tf AS (SELECT did, token, COUNT(*) AS n FROM toks GROUP BY 1, 2),"
    " dl AS (SELECT did, COUNT(*) AS len FROM toks GROUP BY 1),"
    " dfq AS (SELECT token, COUNT(*) AS df FROM"
    "  (SELECT DISTINCT did, token FROM toks) GROUP BY 1),"
    " nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),"
    " s AS (SELECT tf.did, tf.token,"
    "  ROUND((tf.n / CAST(dl.len AS DOUBLE))"
    "   * ln(CAST(nd.n AS DOUBLE) / dfq.df), 4) AS tfidf"
    "  FROM tf JOIN dl USING (did) JOIN dfq USING (token), nd),"
    " r AS (SELECT did, token, tfidf, ROW_NUMBER() OVER"
    "  (PARTITION BY did ORDER BY tfidf DESC, token) AS rank FROM s)"
    " SELECT did AS doc_id, token, rank, tfidf FROM r WHERE rank <= 3"
)
def tfidf_top_terms(spark, sf):
    return textops.tfidf_topk(_docs(spark, sf), k=3)


@_query(
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
    "  WHERE vec_id < 256)"
    " SELECT a.vec_id AS keeper, b.vec_id AS dup_id,"
    " ROUND(list_dot_product(a.v, b.v) /"
    "  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)"
    "  AS cosine_r"
    " FROM e a JOIN e b ON b.vec_id > a.vec_id"
    " WHERE ROUND(list_dot_product(a.v, b.v) /"
    "  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)"
    "  >= 0.35"
)
def dedup_embedding_cosine_exact(spark, sf):
    # all-pairs exactness baseline (the verify-stage oracle),
    # CAPPED to a fixed deterministic sample (vec_id < 256 →
    # ≤32,640 pairs at ANY scale factor) so the registered query
    # can never grow an O(n²) plan with the corpus — r4 VERDICT
    # item 4. The uncapped recall comparison vs the LSH form
    # lives in tests/test_operators.py.
    return dedup.embedding_cosine_pairs(
        _tbl(spark, sf, "embeddings").filter(F.col("vec_id") < 256)
    )


@_query(
    "WITH shing0 AS (SELECT doc_id, "
    + _SH_SENTINEL
    + " AS s FROM documents)"
    " SELECT doc_id,"
    " cast(list_min(list_transform(s, t -> md5_number('0:' || t))) as varchar) as h0,"
    " cast(list_min(list_transform(s, t -> md5_number('1:' || t))) as varchar) as h1,"
    " cast(list_min(list_transform(s, t -> md5_number('2:' || t))) as varchar) as h2,"
    " cast(list_min(list_transform(s, t -> md5_number('3:' || t))) as varchar) as h3"
    " FROM shing0"
)
def minhash_signature(spark, sf):
    sigs = dedup.minhash_signatures(_docs(spark, sf))
    return sigs.select(
        "doc_id",
        *[F.col("sig").getItem(i).alias(f"h{i}") for i in range(4)],
    )


@_query(
    "SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,"
    " ROUND(CASE WHEN len(list_distinct(list_concat("
    + _SH_A.replace("text_a", "a.text")
    + ", "
    + _SH_B.replace("text_b", "b.text")
    + "))) > 0 THEN"
    " len(list_intersect("
    + _SH_A.replace("text_a", "a.text")
    + ", "
    + _SH_B.replace("text_b", "b.text")
    + ")) / CAST(len(list_distinct(list_concat("
    + _SH_A.replace("text_a", "a.text")
    + ", "
    + _SH_B.replace("text_b", "b.text")
    + "))) AS DOUBLE) ELSE 0.0 END, 4) AS jaccard"
    " FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1"
)
def dedup_ngram_jaccard(spark, sf):
    d = _docs(spark, sf)
    a = d.select(F.col("doc_id").alias("doc_id_a"), F.col("text").alias("text_a"))
    b = d.select(F.col("doc_id").alias("doc_id_b"), F.col("text").alias("text_b"))
    pairs = a.join(
        b, F.col("doc_id_b") == F.col("doc_id_a") + 1, "inner"
    )
    return dedup.ngram_jaccard(pairs).select("doc_id_a", "doc_id_b", "jaccard")


@_query(
    "SELECT doc_id, CAST(u.i - 1 AS INT) AS row_idx, s[CAST(u.i AS INT)] AS cell"
    " FROM (SELECT doc_id, string_split(text,' ') AS s FROM documents) t,"
    " LATERAL unnest(range(1, len(t.s)+1)) u(i)"
    " WHERE length(s[CAST(u.i AS INT)]) > 0"
)
def records_to_table(spark, sf):
    # reference: table_data list-of-dicts → page table rows with intra-
    # page order (scripts/ExtractX_OCR.py:432-453) — posexplode keeps
    # the row index without any Python
    d = _docs(spark, sf)
    recs = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("row_idx", "cell")
    )
    return recs.select(
        "doc_id", F.col("row_idx").cast("int").alias("row_idx"), "cell"
    ).filter(F.length("cell") > 0)


@_query(
    "SELECT doc_id, to_base64(encode(text)) AS payload_b64 FROM documents"
)
def b64_encode(spark, sf):
    from ocr_spark.operators import pages

    return pages.b64_transport(_docs(spark, sf))


@_query(
    # render_grid geometry: 2×2 grid of [a,b]/[first,last] words;
    # cell_h = 5+2·2 = 9 → h = 2·10+1 = 21; cell_w = 4·maxlen+3 →
    # w = 2·(4m+4)+1 = 8m+9; restored mask must equal the original.
    "SELECT doc_id, CAST(doc_id % 4 * 90 AS INT) AS rot,"
    " CAST(21 AS INT) AS h,"
    " CAST(8*greatest(length(string_split(text,' ')[1]),"
    "   length(string_split(text,' ')[-1]), 1)+9 AS INT) AS w,"
    " TRUE AS roundtrip_ok FROM documents"
)
def rotate_image(spark, sf):
    from ocr_spark.operators import pages

    return pages.rotate_roundtrip(_docs(spark, sf))


@_query(
    "SELECT printf('conv_%02d', doc_id % 40) AS conv_id,"
    " CAST(SUM(n_chars % 7) AS BIGINT) AS total_rows,"
    " CAST(MAX(n_chars % 5) AS INT) AS max_cols,"
    " COUNT(*) AS n_turns"
    " FROM documents GROUP BY printf('conv_%02d', doc_id % 40)"
)
def count_rows_cols(spark, sf):
    from ocr_spark.operators import pages

    d = _docs(spark, sf)
    pseudo = d.select(
        F.format_string("conv_%02d", (F.col("doc_id") % 40)).alias("conv_id"),
        (F.col("n_chars") % 7).cast("int").alias("n_rows"),
        (F.col("n_chars") % 5).cast("int").alias("n_cols"),
    )
    return pages.count_rows_cols(pseudo)


@_query(
    "SELECT lang, source, COUNT(*) AS n_docs,"
    " CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars"
    " FROM documents GROUP BY ROLLUP (lang, source)"
)
def rollup_doc_stats(spark, sf):
    return relational.rollup_counts(_docs(spark, sf), ["lang", "source"], "n_chars")


@_query(
    # as-of semantics stated as join+qualify (DuckDB also has native
    # ASOF JOIN; the windowed form pins tie-breaks explicitly:
    # latest ts, then greatest click_id)
    "WITH v AS (SELECT event_id, user_id, ts FROM events"
    "  WHERE event_type = 'view'),"
    " c AS (SELECT event_id, user_id, ts, value FROM events"
    "  WHERE event_type = 'click'),"
    " j AS (SELECT v.event_id AS view_id, v.user_id AS user_id,"
    "   c.event_id AS click_id, c.value AS click_value,"
    "   ROW_NUMBER() OVER (PARTITION BY v.event_id"
    "     ORDER BY c.ts DESC, c.event_id DESC) AS rn"
    "  FROM v LEFT JOIN c ON v.user_id = c.user_id AND c.ts <= v.ts)"
    " SELECT view_id, user_id,"
    "  CAST(COALESCE(click_id, -1) AS BIGINT) AS click_id,"
    "  ROUND(COALESCE(click_value, -1.0), 2) AS click_value"
    " FROM j WHERE rn = 1"
)
def asof_join_latest_click(spark, sf):
    ev = _tbl(spark, sf, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click")
    joined = relational.asof_join(
        views,
        clicks,
        keys=["user_id"],
        ts="ts",
        payload={"event_id": "click_id", "value": "click_value"},
    )
    return joined.select(
        "view_id",
        "user_id",
        F.coalesce(F.col("click_id"), F.lit(-1)).cast("long").alias("click_id"),
        F.round(F.coalesce(F.col("click_value"), F.lit(-1.0)), 2).alias(
            "click_value"
        ),
    )


@_query(
    # interval semantics stated as a plain inequality join; the
    # Spark side bin-buckets it into an equi-join on (user, bin)
    "SELECT a.event_id AS anchor_id, a.user_id AS user_id,"
    "  CAST(COUNT(p.event_id) AS BIGINT) AS n_points,"
    "  ROUND(COALESCE(SUM(p.value), 0.0), 2) AS sum_value"
    " FROM events a LEFT JOIN events p"
    "  ON p.user_id = a.user_id AND p.event_type = 'click'"
    "  AND p.ts >= a.ts AND p.ts <= a.ts + INTERVAL 600 SECONDS"
    " WHERE a.event_type = 'error'"
    " GROUP BY 1, 2"
)
def range_join_click_window(spark, sf):
    ev = _tbl(spark, sf, "events")
    anchors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("anchor_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click")
    return relational.range_join_window_agg(
        anchors, clicks, keys=["user_id"], ts="ts", window_sec=600,
        value_col="value",
    ).select("anchor_id", "user_id", "n_points", "sum_value")


@_query(
    "SELECT lang, source,"
    " CAST(GROUPING(lang, source) AS BIGINT) AS gid,"
    " CAST(COUNT(*) AS BIGINT) AS n_docs,"
    " CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars"
    " FROM documents GROUP BY CUBE (lang, source)"
)
def cube_doc_stats(spark, sf):
    return relational.cube_counts(_docs(spark, sf), ["lang", "source"], "n_chars")


@_query(
    "SELECT source,"
    " CAST(COUNT(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de,"
    " CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en,"
    " CAST(COUNT(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es,"
    " CAST(COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr,"
    " CAST(COUNT(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS zh"
    " FROM documents GROUP BY source"
)
def pivot_lang_counts(spark, sf):
    # explicit value list: one-pass pivot, no value-discovery scan and a
    # deterministic column order (valueless pivot runs an extra distinct
    # job and orders columns by the discovered values)
    piv = (
        _docs(spark, sf)
        .groupBy("source")
        .pivot("lang", ["de", "en", "es", "fr", "zh"])
        .count()
    )
    return piv.select(
        "source",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in ["de", "en", "es", "fr", "zh"]
        ],
    )


@_query(
    "WITH q AS (SELECT quantile_cont(n_chars,"
    "  [0.25, 0.5, 0.75, 0.9]) AS qs FROM documents)"
    " SELECT CAST([0.25, 0.5, 0.75, 0.9][i] AS DOUBLE) AS p,"
    "  ROUND(qs[i], 3) AS value"
    " FROM q, LATERAL unnest(range(1, 5)) u(i)"
)
def doc_length_quantiles(spark, sf):
    return relational.exact_quantiles(
        _docs(spark, sf), "n_chars", [0.25, 0.5, 0.75, 0.9]
    )


@_query(
    "SELECT doc_id, n_chars FROM documents"
    " ORDER BY n_chars DESC, doc_id DESC LIMIT 10"
)
def topk_longest_docs(spark, sf):
    return relational.topk_by(
        _docs(spark, sf).select("doc_id", "n_chars"), ["n_chars", "doc_id"], 10
    )


@_query(
    "SELECT doc_id FROM documents"
    " EXCEPT SELECT doc_id FROM documents WHERE lang = 'en'"
)
def set_except(spark, sf):
    d = _docs(spark, sf)
    return relational.except_distinct(
        d.select("doc_id"), d.filter(F.col("lang") == "en").select("doc_id")
    )


@_query(
    "SELECT doc_id FROM documents WHERE n_chars > 200"
    " INTERSECT SELECT doc_id FROM documents WHERE lang = 'en'"
)
def set_intersect(spark, sf):
    d = _docs(spark, sf)
    return relational.intersect_distinct(
        d.filter(F.col("n_chars") > 200).select("doc_id"),
        d.filter(F.col("lang") == "en").select("doc_id"),
    )


@_query(
    "SELECT event_id, user_id FROM events WHERE event_type = 'view'"
    " AND user_id IN (SELECT user_id FROM events WHERE event_type = 'error')"
)
def semi_join_users_with_errors(spark, sf):
    # views by users who ALSO have an error event: EXISTS filter, no
    # row duplication, error side broadcast (left_semi)
    ev = _tbl(spark, sf, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id"
    )
    errors = ev.filter(F.col("event_type") == "error")
    return relational.semi_join(views, errors, ["user_id"])


@_query(
    # Spark cast(ts as long) truncates to seconds → floor(epoch())
    "SELECT event_id, user_id,"
    " CAST(COALESCE(CAST(floor(epoch(ts)) AS BIGINT) -"
    "  LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w, -1) AS BIGINT) AS gap_sec,"
    " CAST(COALESCE(LEAD(event_id) OVER w, -1) AS BIGINT) AS next_event"
    " FROM events"
    " WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
)
def window_lag_lead(spark, sf):
    # per-user inter-event gap + next event peek — the lag/lead window
    # family over a total order (ts, event_id). Epoch seconds are
    # computed ENTIRELY in the NTZ domain (timestampdiff vs the NTZ
    # epoch literal = floor(epoch(ts)), matching the oracle) — no
    # session-timezone read and no conf mutation that would leak into
    # every later query in a shared session.
    from pyspark.sql.window import Window

    ev = _tbl(spark, sf, "events").select("event_id", "user_id", "ts")
    sec = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.coalesce(sec - F.lag(sec).over(w), F.lit(-1))
        .cast("long")
        .alias("gap_sec"),
        F.coalesce(F.lead("event_id").over(w), F.lit(-1)).cast("long").alias(
            "next_event"
        ),
    )


@_query(
    "SELECT event_id, user_id,"
    " CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER"
    "  (PARTITION BY user_id ORDER BY ts, event_id"
    "   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents"
    " FROM events"
)
def window_running_total(spark, sf):
    # running per-user value sum over the (ts, event_id) total order —
    # sequential within each partition of the window, deterministic
    from pyspark.sql.window import Window

    ev = _tbl(spark, sf, "events").select("event_id", "user_id", "ts", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # cents as integers: the running sum stays EXACT (a double running
    # sum would expose engine summation-tree differences at the last
    # ulp, which no rounding reliably absorbs)
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .over(w)
        .alias("running_cents"),
    )


@_query(
    "SELECT doc_id, lang FROM documents"
    " WHERE md5(CAST(doc_id AS VARCHAR)) < '2'"
)
def deterministic_sample(spark, sf):
    return relational.deterministic_sample(
        _docs(spark, sf), "doc_id", "2"
    ).select("doc_id", "lang")


@_query(
    "SELECT doc_id, lang FROM documents"
    " QUALIFY ROW_NUMBER() OVER (PARTITION BY lang"
    "  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 5"
)
def stratified_sample(spark, sf):
    return relational.stratified_sample_topk(
        _docs(spark, sf).select("doc_id", "lang"), "lang", "doc_id", 5
    )


@_query(
    "SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,"
    " CAST(grouping(lang) AS BIGINT) AS g_lang,"
    " CAST(grouping(source) AS BIGINT) AS g_source"
    " FROM documents GROUP BY GROUPING SETS ((lang), (source))"
)
def grouping_sets_lang_source(spark, sf):
    # explicit GROUPING SETS through the SQL surface (the DataFrame API
    # exposes only rollup/cube): per-lang and per-source totals in one
    # scan with partial aggregation per set
    d = _docs(spark, sf)
    d.createOrReplaceTempView("documents_gs")
    return spark.sql(
        "SELECT lang, source, CAST(count(*) AS LONG) AS n_docs,"
        " CAST(grouping(lang) AS LONG) AS g_lang,"
        " CAST(grouping(source) AS LONG) AS g_source"
        " FROM documents_gs GROUP BY GROUPING SETS ((lang), (source))"
    )


@_query(
    "SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k"
    " FROM events"
)
def json_extract_field(spark, sf):
    # typed JSON parse of the props column — from_json with a schema
    # (the Spark-first form: one parse, typed output, no per-field
    # string scans like repeated get_json_object calls)
    ev = _tbl(spark, sf, "events")
    return ev.select(
        "event_id",
        F.from_json(F.col("props"), "k INT").getField("k").alias("k"),
    )


@_query(
    "SELECT event_type, CAST(COUNT(k) AS BIGINT) AS n,"
    " CAST(SUM(k) AS BIGINT) AS sum_k, CAST(MIN(k) AS BIGINT) AS min_k,"
    " CAST(MAX(k) AS BIGINT) AS max_k FROM"
    " (SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS k"
    "  FROM events) GROUP BY event_type"
)
def json_field_stats(spark, sf):
    ev = _tbl(spark, sf, "events")
    parsed = ev.select(
        "event_type", F.from_json(F.col("props"), "k INT").getField("k").alias("k")
    )
    return parsed.groupBy("event_type").agg(
        F.count("k").cast("long").alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
    )


@_query(
    "SELECT o.o_orderkey, o.o_custkey, c.c_name, n.n_name"
    " FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey"
    " JOIN nation n ON n.n_nationkey = c.c_nationkey"
)
def star_join_orders(spark, sf):
    # classic star enrichment: fact orders joined to broadcast dims
    # (customer → nation); zero fact-side exchanges (plan-tested)
    orders = _tbl(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = _tbl(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_nationkey"
    )
    nat = _tbl(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    return relational.star_join_enrich(
        orders,
        [(cust, "o_custkey"), (nat, "c_nationkey")],
        ["o_orderkey", "o_custkey", "c_name", "n_name"],
    )


@_query(
    # the salted two-phase form must equal the plain GROUP BY
    "SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,"
    " SUM(l_quantity) AS sum_l_quantity"
    " FROM lineitem GROUP BY l_returnflag"
)
def skew_salted_agg(spark, sf):
    # l_returnflag has 3 values over the whole lineitem table — the
    # canonical skewed groupBy; the salted two-phase form splits each
    # heavy key across 16 reducers and combines partials
    return relational.salted_group_agg(
        _tbl(spark, sf, "lineitem"), "l_returnflag", "l_quantity"
    )


@_query(
    # Spark's 1-hour windows are epoch-aligned = hour-truncation
    "SELECT date_trunc('hour', ts) AS win_start,"
    " date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,"
    " event_type, CAST(COUNT(*) AS BIGINT) AS n_events"
    " FROM events GROUP BY 1, 2, 3"
)
def tumbling_window_counts(spark, sf):
    return relational.tumbling_counts(
        _tbl(spark, sf, "events"), "ts", ["event_type"], "1 hour"
    )


@_query(
    # gaps-and-islands replay of session_window: a new session
    # starts when the gap since the previous event reaches the
    # 10-minute threshold (Spark merges only strictly-overlapping
    # [ts, ts+gap) windows); end = last event + gap
    "WITH o AS (SELECT user_id, ts,"
    "  CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)"
    "   >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk FROM events),"
    " s AS (SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id"
    "  ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o)"
    " SELECT user_id, MIN(ts) AS sess_start,"
    "  MAX(ts) + INTERVAL 10 MINUTE AS sess_end,"
    "  CAST(COUNT(*) AS BIGINT) AS n_events"
    " FROM s GROUP BY user_id, sid"
)
def session_window_agg(spark, sf):
    return relational.session_agg(
        _tbl(spark, sf, "events"), "user_id", "ts", "10 minutes"
    )


@_query(
    # enumerate() keeps the ORIGINAL index of non-empty sentences
    "SELECT doc_id, CAST(u.i - 1 AS INT) AS sent_idx,"
    " s[CAST(u.i AS INT)] AS sentence"
    " FROM (SELECT doc_id, string_split(text, '. ') AS s FROM documents) t,"
    " LATERAL unnest(range(1, len(t.s)+1)) u(i)"
    " WHERE length(s[CAST(u.i AS INT)]) > 0"
)
def udtf_sentence_split(spark, sf):
    # the Python UDTF face: one input row → N typed rows, LATERAL-
    # joined in SQL (API-surface demo; bulk expansion stays on
    # posexplode — see pdf_page_explode)
    from ocr_spark.operators import udtfs

    udtfs.register(spark)
    _docs(spark, sf).createOrReplaceTempView("docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, s.sent_idx, s.sentence"
        " FROM docs_udtf d, LATERAL sentence_split(d.text) s"
    )


@_query("SELECT doc_id, text AS main_text FROM documents")
def extract_html(spark, sf):
    return xq.extract_html_query(_docs(spark, sf))


@_query(
    "SELECT doc_id, string_split(text, ' ')[1] AS w,"
    " CAST(n_chars AS VARCHAR) AS n FROM documents"
)
def extract_json_salvage(spark, sf):
    return xq.extract_json_query(_docs(spark, sf))


@_query(
    "SELECT doc_id,"
    " 'a=' || w[1] || '|b=' || w[2] || '|c=' || w[3] ||"
    " '|a=' || w[4] || '|b=' || w[5] || '|c=' || w[6] AS cells_text"
    " FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"
)
def extract_grid(spark, sf):
    return xq.extract_grid_query(_docs(spark, sf))


@_query(
    "SELECT o_orderkey, o_custkey FROM orders"
    " WHERE o_custkey NOT IN"
    " (SELECT o_custkey FROM orders WHERE o_custkey % 10 < 4)"
)
def checkpoint_resume_anti_join(spark, sf):
    orders = _tbl(spark, sf, "orders")
    finished = (
        orders.filter(F.col("o_custkey") % 10 < 4)
        .select("o_custkey")
        .distinct()
    )
    return relational.anti_join_unfinished(orders, finished, "o_custkey").select(
        "o_orderkey", "o_custkey"
    )


@_query(
    "SELECT vec_id, CAST(u.i - 1 AS INT) AS dim_idx,"
    " CAST(CASE WHEN list_max(v) - list_min(v) > 0 THEN"
    "  round((v[CAST(u.i AS INT)] - list_min(v))"
    "   / (list_max(v) - list_min(v)) * 255, 0)"
    "  ELSE 0 END AS INT) AS code"
    " FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) t,"
    " LATERAL unnest(range(1, len(t.v)+1)) u(i)"
)
def quantize_embeddings(spark, sf):
    return similarity.quantize_embeddings(_tbl(spark, sf, "embeddings"))


# the PDF build/parse must round-trip the 10-word page chunking
# exactly; the oracle computes the chunks without any PDF at all
@_query(
    "SELECT doc_id, CAST(u.i + 1 AS INT) AS page_idx,"
    " array_to_string(list_slice(w, CAST(10*u.i + 1 AS INT),"
    "  CAST(10*u.i + 10 AS INT)), ' ') AS page_text"
    " FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,"
    " LATERAL unnest(range(0, (len(d.w) + 9) // 10)) u(i)"
)
def pdf_text_extract(spark, sf):
    # REAL PDF containers through the whole chain: build a classic-
    # xref PDF per document (pages = 10-word chunks of its text,
    # kernels/pdf.build_pdf), then parse the BYTES back — xref →
    # page tree → FlateDecode → Tj runs (kernels/pdf.extract_pages,
    # the reference's fitz front door, scripts/ExtractX_OCR.py:
    # 240-288). The oracle recomputes the chunking directly from
    # documents.text, so any parser/builder defect breaks the match.
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from ocr_spark.operators import pages

    @python_stage
    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.kernels.pdf import build_pdf, build_pdf_modern

        for pdf in it:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = text.split(" ")
                chunks = [
                    " ".join(words[i : i + 10])
                    for i in range(0, len(words), 10)
                ] or [""]
                # even docs: classic xref-table PDFs; odd docs: the
                # PDF 1.5 layout (object stream + predictor-coded
                # xref stream) — one oracle covers both parse paths
                builder = build_pdf if int(doc_id) % 2 == 0 else build_pdf_modern
                payloads.append(builder(chunks))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    pdfs = _docs_par(spark, sf).select("doc_id", "text").mapInPandas(build, schema)
    return pages.pdf_pages_from_bytes(pdfs)


@_query(
    "SELECT md5(text) AS fp, MIN(doc_id) AS keeper, COUNT(*) AS n_dups"
    " FROM documents GROUP BY md5(text)"
)
def dedup_exact(spark, sf):
    return dedup.exact_dedup(_docs(spark, sf))


# SimHash replay: DuckDB md5_number is the signed little-endian
# int128 of md5, so the token hash (first 8 digest bytes, little-
# endian) is its low 64 bits; bit votes and the sign-bit pack run
# in HUGEINT arithmetic. _SIMHASH_V reproduces the signed 64-bit
# signature for every doc (empty text → 0, matching the kernel).
@_query(
    _SIMHASH_V
    + " SELECT d.doc_id, CAST(CASE WHEN COALESCE(v.vu, 0::HUGEINT) >= (1::HUGEINT << 63)"
    "  THEN v.vu - (1::HUGEINT << 64) ELSE COALESCE(v.vu, 0::HUGEINT) END AS BIGINT) AS simhash"
    " FROM documents d LEFT JOIN v ON v.doc_id = d.doc_id"
)
def dedup_simhash(spark, sf):
    return dedup.simhash(_docs(spark, sf))


@_query(
    "SELECT vec_id, 'IMG1' AS fmt,"
    " CAST(label % 16 + 1 AS INTEGER) AS width,"
    " CAST(vec_id % 8 + 1 AS INTEGER) AS height,"
    " CAST(1 AS INTEGER) AS channels,"
    " CAST(9 + (label % 16 + 1) * (vec_id % 8 + 1) AS BIGINT) AS n_bytes,"
    " TRUE AS valid FROM embeddings"
)
def multimodal_meta(spark, sf):
    return multimodal.extract_metadata(_fake_images(spark, sf))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: build for name, (build, _) in _RECORDS.items()}


def oracle_sql() -> dict[str, str]:
    return {name: oracle for name, (_, oracle) in _RECORDS.items()}
