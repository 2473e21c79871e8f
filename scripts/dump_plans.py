"""Regenerate PLANS.md: formatted physical plans of the key dataflows with
the properties each plan must exhibit (also asserted in tests/test_plans.py).

Usage: python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    ).strip()


def main() -> int:
    from pyspark.sql import functions as F

    from ocr_spark.fixtures import make_transcripts
    from ocr_spark.kernels.pdf import build_pdf
    from ocr_spark.operators import (
        bpe,
        dedup,
        multimodal,
        pages,
        relational,
        similarity,
        textops,
    )
    from ocr_spark.pipeline import extract_stage
    from ocr_spark.session import get_spark

    spark = get_spark(app="dump-plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    events = spark.read.parquet(f"{SF}/events.parquet")
    transcripts = spark.createDataFrame(make_transcripts(n_convs=5, seed=7))

    sections = [
        (
            "Extraction pipeline (`extract_stage`)",
            "ONE exchange — the explicit salted repartition on `part_id` — then ONE "
            "fused `MapInArrow` stage. The exchange input is exactly the kernel's "
            "columns (`ts` and any user columns pruned before the shuffle); no "
            "second shuffle, no sort, nothing per-row.",
            extract_stage(transcripts, num_parts=8),
        ),
        (
            "Turn-range filter (`page_range_filter`)",
            "The conjunctive range predicate reaches the parquet scan as "
            "`PushedFilters` (rowgroup pruning; partition pruning when `turn_idx` "
            "partitions the table) and `ReadSchema` carries only projected columns.",
            relational.range_filter(lineitem, "l_linenumber", 2, 5).select(
                "l_orderkey", "l_linenumber"
            ),
        ),
        (
            "Checkpoint-resume anti-join",
            "`finished` (one row per completed part) broadcasts; the big transcript "
            "side is NOT shuffled — `BroadcastHashJoin ... LeftAnti`.",
            relational.anti_join_unfinished(
                lineitem, spark.createDataFrame([(1,), (2,)], ["l_orderkey"]), "l_orderkey"
            ),
        ),
        (
            "Exact dedup (`dedup_exact`)",
            "Two `HashAggregate`s around one exchange: the partial aggregate "
            "collapses duplicates map-side, and the shuffle key is the md5 digest — "
            "raw text never crosses the exchange.",
            dedup.exact_dedup(docs),
        ),
        (
            "Brute-force ANN (`cosine_topk`)",
            "The tiny query side broadcasts (`BroadcastNestedLoopJoin`); dot "
            "products are JVM-side `zip_with`/`aggregate` expressions inside the "
            "join projection — no Python in the scoring path.",
            similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=2),
        ),
        (
            "Banded-LSH ANN candidates (`lsh_bucketed_topk`)",
            "Bucket codes are literal-plane expressions; the bucket join moves only "
            "`(id, table_idx, bucket)`, vectors re-attach by id AFTER the distinct — "
            "the heavy columns cross the wire once per surviving candidate.",
            similarity.lsh_bucketed_topk(emb, emb.filter(F.col("vec_id") < 3), k=2),
        ),
        (
            "IVF ANN (`ivf_topk`)",
            "Cell assignment is a map-side pandas-UDF projection (centroids ride in "
            "the closure); the nprobe-cells-per-query probe list broadcasts "
            "(`BroadcastHashJoin`) so the corpus never shuffles before the rerank — "
            "the plan's only hash exchange is the per-query rerank window on `q_id`.",
            similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=2),
        ),
        (
            "As-of join (`asof_join`)",
            "Union of tagged sides → ONE hash exchange on the key → ONE sort → ONE "
            "`Window` (`last(payload, ignorenulls)` over rows-unbounded-preceding) → "
            "filter left rows. Keyed-agg cost; no join node exists in the plan at all.",
            relational.asof_join(
                events.filter(F.col("event_type") == "view").select(
                    F.col("event_id").alias("view_id"), "user_id", "ts"
                ),
                events.filter(F.col("event_type") == "click"),
                ["user_id"],
                "ts",
                {"event_id": "click_id", "value": "click_value"},
            ),
        ),
        (
            "Range join (`range_join_window_agg`)",
            "The anchor interval explodes into fixed epoch bins; the join is a plain "
            "equi-join on `(user_id, __bin)` — `SortMergeJoin`, never "
            "`CartesianProduct`/`BroadcastNestedLoopJoin` — and the exact inequality "
            "runs inside the aggregate.",
            relational.range_join_window_agg(
                events.filter(F.col("event_type") == "error").select(
                    F.col("event_id").alias("anchor_id"), "user_id", "ts"
                ),
                events.filter(F.col("event_type") == "click"),
                ["user_id"],
                "ts",
                600,
                "value",
            ),
        ),
        (
            "SimHash banded candidates (`simhash_candidate_groups`)",
            "ONE MapInPandas signature pass (a union of per-band selects would "
            "re-run the kernel per band — plan-tested), then `posexplode` of the "
            "four 16-bit band values; the only exchange carries "
            "`(band_idx, band_val)` int keys plus partial aggregates — text never "
            "leaves the signature stage.",
            dedup.simhash_candidate_groups(docs),
        ),
        (
            "LSH-composed embedding dedup (`embedding_cosine_dedup_lsh`)",
            "The REGISTERED corpus-level form: bucket-code self-join on "
            "`(table_idx, bucket)` (equi-join, never `BroadcastNestedLoopJoin` — "
            "plan-tested), distinct pairs, vectors re-attached per surviving pair "
            "for the exact cosine verify. The all-pairs theta-join exists only as "
            "the toy-scale baseline `dedup_embedding_cosine_exact`.",
            dedup.embedding_cosine_dedup_lsh(emb),
        ),
        (
            "Duplicate clustering round (`duplicate_clusters`, one iteration)",
            "Before round 1, and after a round that changed at most "
            "`CC_DRIVER_EDGES` labels, `graph.connected_components` collects at "
            "most `CC_DRIVER_EDGES` + 1 live edges (distinct label pairs an edge "
            "still joins); if they fit, union-find on the driver ends the "
            "closure and a broadcast join maps each label to its root. "
            "Otherwise one distributed round runs: one join (edges × labels) + "
            "one keyed min-aggregate; an Observation on the round's eager "
            "localCheckpoint counts the changed labels, and a round that "
            "changes none ends the loop. Shown here: "
            "the verified-pair edge build feeding round 1 — LSH candidates joined "
            "to per-doc shingle arrays (computed once, by id) for the mandatory "
            "Jaccard verify.",
            dedup.verified_dup_pairs(docs),
        ),
        (
            "Semi join (`semi_join`)",
            "EXISTS filter: distinct key set broadcasts "
            "(`BroadcastHashJoin ... LeftSemi`); the fact side never shuffles and "
            "left rows are never duplicated by multiple matches.",
            relational.semi_join(
                lineitem, spark.createDataFrame([(1,), (2,)], ["l_orderkey"]), ["l_orderkey"]
            ),
        ),
        (
            "Stratified sample (`stratified_sample_topk`)",
            "Per-stratum deterministic top-k by md5 order: ONE exchange on the "
            "stratum key feeding a window `row_number` — no global sort, and the "
            "same rows come back under any partitioning or cluster size.",
            relational.stratified_sample_topk(
                docs.select("doc_id", "lang"), "lang", "doc_id", 5
            ),
        ),
        (
            "Batch session windows (`session_agg`)",
            "`session_window` in batch: one exchange on the key, sort within "
            "partitions, gap-merge — no state store, no custom code; the streaming "
            "face reuses the identical operator with a watermark.",
            relational.session_agg(events, "user_id", "ts", "10 minutes"),
        ),
        (
            "IVF-PQ rerank (`ivf_pq_topk`)",
            "Map-side cell+code pass (codes ≈12 B/vector); probe list, query "
            "norms, and survivor vectors all broadcast; the only exchange is the "
            "PQ-scoring window keyed on `q_id` and Catalyst prunes it down to "
            "`(q_id, neighbor_id, pq_cos)` — vectors re-attach only for the "
            "top-`rerank` survivors.",
            similarity.ivf_pq_topk(
                emb, emb.filter(F.col("vec_id") < 3), k=3, rerank=8
            ),
        ),
        (
            "Winnowing fingerprints (`winnow_fingerprint`)",
            "ZERO exchanges: token → gram-hash → keyed → window-min arrays are "
            "all per-row higher-order lambdas over hoisted columns; the explode "
            "is narrow and no Python stage exists anywhere in the plan.",
            textops.winnow_fingerprint(docs),
        ),
        (
            "Image near-dup banding (`image_ahash_candidates`)",
            "The banding shuffle carries (band_idx, band_val, vec_id) ints only "
            "— hex signatures and payloads stay behind and re-attach to the "
            "DISTINCT pair list by id; the persisted hash frame keeps the decode "
            "UDF to ONE run across the three plan branches that read it.",
            multimodal.image_ahash_candidates(
                multimodal.image_ahash(
                    spark.createDataFrame(
                        [
                            (int(v), multimodal.encode_fake_image(int(v), 8, 8))
                            for v in range(12)
                        ],
                        "vec_id long, payload binary",
                    )
                )
            ),
        ),
        (
            "Per-group embedding outliers (`embedding_outliers`)",
            "The centroid agg shuffles (label, dim, int64) triples with map-side "
            "partial sums; the |labels|-row centroid table broadcasts back, so "
            "the corpus side — vectors included — never crosses an exchange.",
            similarity.embedding_outliers(emb),
        ),
        (
            "Real-PDF page explode (`pdf_pages_from_bytes`)",
            "Straight-line map chain — ZERO exchanges: the container parse and "
            "page explode happen in one Arrow-batched Python stage, and page "
            "order comes from the parser, not a sort.",
            pages.pdf_pages_from_bytes(
                spark.createDataFrame(
                    [(0, build_pdf(["x"]))], "doc_id long, payload binary"
                )
            ),
        ),
        (
            "BPE subword tokenization (`bpe_encode`)",
            "The entire 24-rank merge chain is nested JVM `replace` "
            "expressions inside ONE WholeStageCodegen span — ZERO exchanges, "
            "zero Python; the posexplode and the literal vocab-map lookup are "
            "per-row projections on the same stage.",
            bpe.bpe_encode(docs),
        ),
        (
            "Keyword-taxonomy tagging (`taxonomy_tag`)",
            "The taxonomy is a literal array of structs baked into the plan; "
            "hit counts, the primary-topic argmax, and the explode are all "
            "per-row expressions — ZERO exchanges, no keyword-table join "
            "anywhere.",
            textops.taxonomy_tag(docs),
        ),
        (
            "Byte-capped resharding (`reshard_by_bytes`)",
            "TWO-PHASE distributed prefix sum: document rows flow through a "
            "bucket-partitioned window (Exchange on the md5-prefix bucket → "
            "Sort → Window), while the single-partition window sits ONLY over "
            "the 256-row bucket-totals aggregate, whose offsets come back via "
            "`BroadcastHashJoin` — no document row ever crosses a global sort "
            "or single-partition window, and the exchanges carry (id, key, "
            "bytes), never text.",
            textops.reshard_by_bytes(docs),
        ),
        (
            "Domain-graph PageRank (`graph.pagerank`, 3 iterations)",
            "A CONSTANT-depth plan: per iteration one join of the node-bounded "
            "rank table on `src` plus one map-side-combining aggregate on "
            "`dst` — the corpus-scale edge list is deduped and degree-"
            "annotated ONCE, ranks and contributions are (node, long) pairs "
            "only, and no iteration count depends on the data.",
            __import__(
                "ocr_spark.operators.graph", fromlist=["pagerank"]
            ).pagerank(
                docs.selectExpr(
                    "cast(doc_id % 37 as string) as src",
                    "cast(doc_id % 11 as string) as dst",
                )
            ),
        ),
        (
            "Fuzzy cross-snapshot dedup (`cross_snapshot_fuzzy`)",
            "Both snapshots reduce to (band_idx, band_key, id) BEFORE the "
            "cross-release join — text never leaves the two signature "
            "MapInPandas stages; candidate pairs distinct-aggregate and the "
            "per-doc counts are a keyed aggregation, not a window.",
            dedup.cross_snapshot_fuzzy(
                docs, docs.filter(F.col("doc_id") % 3 == 0)
            ),
        ),
    ]

    lines = [
        "# PLANS — physical plans of the key dataflows",
        "",
        "Regenerate with `python scripts/dump_plans.py`. The load-bearing plan",
        "properties below are enforced by `tests/test_plans.py`; this file makes",
        "them reviewable without running Spark.",
        "",
    ]
    for title, why, df in sections:
        lines += [f"## {title}", "", why, "", "```", plan_of(df), "```", ""]

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
