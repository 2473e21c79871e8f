"""Physical-plan assertions — the 100-TB story, checked in CI.

Correctness tests prove the operators compute the right answer at toy
scale; these prove the PLANS are the ones that survive a 1000-executor
cluster: filters reach the parquet scan, small sides broadcast, unused
columns never leave the reader, aggregates partial-combine map-side, and
the extraction exchange hashes on the salted part key.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators import relational

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _exchange_blocks(plan: str) -> list[str]:
    """The detail block (Input/Arguments) of every Exchange node in a
    formatted plan — the columns that actually cross the wire."""
    import re

    return [
        b for b in plan.split("\n\n") if re.match(r"\(\d+\) Exchange", b.strip())
    ]


def _sorts(plan: str) -> int:
    """Sort nodes in a formatted plan's tree (SortAggregate excluded)."""
    return len(re.findall(r"\bSort \(\d+\)", plan.split("\n\n")[0]))


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def test_range_filter_pushed_to_scan(lineitem):
    plan = _plan(
        relational.range_filter(lineitem, "l_linenumber", 2, 5).select("l_orderkey")
    )
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_linenumber,2)" in plan
    assert "LessThanOrEqual(l_linenumber,5)" in plan


def test_projection_prunes_scan_columns(lineitem):
    plan = _plan(lineitem.select("l_orderkey", "l_quantity"))
    # ReadSchema carries only the projected columns — a 2-column projection
    # must not read all 16 lineitem columns.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema


def test_resume_anti_join_broadcasts_finished_side(spark, lineitem):
    finished = spark.createDataFrame([(1,), (2,)], ["l_orderkey"])
    plan = _plan(relational.anti_join_unfinished(lineitem, finished, "l_orderkey"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan
    # the big fact side must NOT shuffle for the join
    assert "Exchange hashpartitioning(l_orderkey" not in plan


def test_group_count_partial_aggregates_map_side(lineitem):
    plan = _plan(relational.group_count(lineitem, "l_orderkey"))
    # two HashAggregates (partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_extract_stage_exchanges_on_salted_part_id(spark):
    from ocr_spark.fixtures import make_transcripts
    from ocr_spark.pipeline import extract_stage

    df = spark.createDataFrame(make_transcripts(n_convs=5, seed=7))
    plan = _plan(extract_stage(df, num_parts=8))
    assert "direct_shuffle_partition_id(cast(((cast(part_id#" in plan
    assert "MapInArrow" in plan
    # ts is pruned before the exchange: the shuffled row is the kernel's
    # 6 columns, not the full input row (column refs print as `name#id`)
    exchange_block = plan.split("(2) Exchange")[1].split("(3)")[0]
    assert "ts#" not in exchange_block
    assert "text#" in exchange_block


def test_cosine_topk_broadcasts_query_side(spark):
    from ocr_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=2))
    assert "BroadcastNestedLoopJoin" in plan


def test_exact_dedup_shuffles_digest_not_text(spark):
    from ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.exact_dedup(docs))
    # the exchange key is the md5 digest; the raw text column must not
    # appear in the post-partial-aggregate shuffle schema
    assert plan.count("HashAggregate") >= 2
    exchange_block = plan.split("(4) Exchange")[1].split("(5)")[0]
    assert "text#" not in exchange_block


def test_topk_is_take_ordered_not_global_sort(spark):
    from ocr_spark.operators import relational

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(relational.topk_by(docs.select("doc_id", "n_chars"), ["n_chars", "doc_id"], 10))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_lsh_band_shuffle_carries_no_text(spark):
    from ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.lsh_candidate_groups(docs))
    # the band-key groupBy exchanges only band keys + partial aggregates;
    # exactly ONE signature-kernel (MapInPandas) run and ONE input scan —
    # a per-band union would re-run the kernel once per band
    assert plan.count("MapInPandas") == 2  # plan-tree line + detail block
    blocks = _exchange_blocks(plan)
    assert blocks and all("text#" not in b for b in blocks)


def test_asof_join_single_exchange_single_sort(spark):
    """The as-of join is ONE hash exchange on the key + ONE sort feeding
    one Window — the same cost as a keyed agg, no range cross join."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click")
    plan = _plan(
        relational.asof_join(
            views, clicks, ["user_id"], "ts",
            {"event_id": "click_id", "value": "click_value"},
        )
    )
    # exactly one exchange in the whole plan, and it hashes on the key
    assert plan.count("hashpartitioning(") == 1
    assert "hashpartitioning(user_id" in plan
    # tree section: one Sort, one Window, no join node at all
    assert plan.count("+- Sort") == 1 and plan.count("+- Window") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ivf_corpus_never_shuffles_before_rerank(spark):
    """IVF candidate selection: cell assignment is map-side and the probe
    list broadcasts — the only corpus shuffle is the final per-query
    rerank window over surviving candidates."""
    from ocr_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=3))
    assert "BroadcastHashJoin" in plan
    # the only hash exchange is the rerank window's, keyed on q_id
    assert plan.count("hashpartitioning(") == 1
    assert "hashpartitioning(q_id" in plan


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The interval join must compile to an equi-join on (key, bin) —
    never a per-key cross product / nested loop."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    anchors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("anchor_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click")
    plan = _plan(
        relational.range_join_window_agg(
            anchors, clicks, ["user_id"], "ts", 600, "value"
        )
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "__bin" in plan  # the equi-join key includes the epoch bin


def test_bucketed_join_runs_with_zero_exchanges(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts join
    with NO exchange on either side — the co-located-join layout that
    turns recurring joins into local merges at scale."""
    from ocr_spark.table import write_bucketed

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "n_chars")
    write_bucketed(docs, "b_left", "doc_id", 8, str(tmp_path / "l"))
    write_bucketed(docs, "b_right", "doc_id", 8, str(tmp_path / "r"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_left").join(spark.table("b_right"), "doc_id")
        plan = _plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_left")
        spark.sql("DROP TABLE IF EXISTS b_right")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "Bucketed: true" in plan


def test_conversation_assembly_single_group_exchange(spark):
    """The assembly is one exchange on conv_id feeding one sorted
    MapInArrow — no extra shuffle, no per-group pandas map."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["conversation_assembly"](spark, SF)
    plan = _plan(df)
    assert "MapInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("hashpartitioning(") == 1
    assert plan.count("hashpartitioning(conv_id") == 1


def test_embedding_dedup_lsh_is_bucket_join_not_all_pairs(spark):
    # the REGISTERED corpus-level embedding dedup must join on bucket keys
    # (shuffled/broadcast hash equi-join) — the O(n^2) theta-join form
    # (BroadcastNestedLoopJoin) is only the toy-scale oracle baseline
    from ocr_spark.operators import dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(dedup.embedding_cosine_dedup_lsh(emb))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # candidates come from a real equi-join


def test_simhash_band_shuffle_carries_no_text(spark):
    # same scale shape as MinHash LSH: only (band_idx, band_val, doc_id)
    # cross the exchange — the document text stays in the signature stage
    from ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.simhash_candidate_groups(docs))
    assert plan.count("MapInPandas") == 2  # one kernel run, not one per band
    blocks = _exchange_blocks(plan)
    assert blocks and all("text#" not in b for b in blocks)


def test_semi_join_broadcasts_and_never_duplicates(spark, lineitem):
    keys = spark.createDataFrame([(1,), (2,)], ["l_orderkey"])
    plan = _plan(relational.semi_join(lineitem, keys, ["l_orderkey"]))
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the fact side must not shuffle for an EXISTS filter
    assert "Exchange hashpartitioning(l_orderkey" not in plan


def test_stratified_sample_single_exchange(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        relational.stratified_sample_topk(
            docs.select("doc_id", "lang"), "lang", "doc_id", 5
        )
    )
    assert len(_exchange_blocks(plan)) == 1  # one shuffle on the stratum key


def test_star_join_dims_broadcast_fact_never_shuffles(spark, lineitem):
    docs = spark  # unused alias guard
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_nationkey"
    )
    nat = spark.read.parquet(f"{SF}/nation.parquet").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    plan = _plan(
        relational.star_join_enrich(
            orders,
            [(cust, "o_custkey"), (nat, "c_nationkey")],
            ["o_orderkey", "c_name", "n_name"],
        )
    )
    assert plan.count("BroadcastHashJoin") == 4  # 2 joins x (tree + detail)
    assert "SortMergeJoin" not in plan
    assert not _exchange_blocks(plan)  # zero shuffles: map-only enrichment


def test_salted_agg_two_phase_no_single_key_reducer(spark, lineitem):
    plan = _plan(relational.salted_group_agg(lineitem, "l_returnflag", "l_quantity"))
    blocks = _exchange_blocks(plan)
    # first exchange on (key, salt), second on key alone
    assert len(blocks) == 2
    assert any("__salt" in b for b in blocks)
    # 4 HashAggregates: partial+final per phase
    assert plan.count("HashAggregate") >= 4


def test_top_terms_is_take_ordered_with_partial_agg(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.top_terms_df(docs, k=20))
    assert "TakeOrderedAndProject" in plan  # heaps, never a global sort
    assert plan.count("HashAggregate") >= 4  # partial + final


def test_tfidf_broadcasts_document_frequencies(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.tfidf_topk(docs, k=3))
    assert "BroadcastHashJoin" in plan  # token->df table rides broadcast


def test_ivf_pq_window_shuffles_codes_not_vectors(spark):
    """IVF-PQ: the PQ-scoring window shuffle carries (codes, vnorm) —
    never the embedding vectors; probe list and query norms broadcast.
    Vectors re-attach only for the top-``rerank`` survivors."""
    from ocr_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(
        similarity.ivf_pq_topk(emb, emb.filter(F.col("vec_id") < 3), k=3, rerank=8)
    )
    assert "BroadcastHashJoin" in plan
    # the candidate-side exchange (PQ window, keyed q_id) must not move
    # vectors — Catalyst even prunes the codes after the ADC projection,
    # so only (q_id, neighbor_id, pq_cos) cross the wire
    pq_exchanges = [
        b for b in _exchange_blocks(plan) if "hashpartitioning(q_id" in b
    ]
    assert pq_exchanges, plan
    assert all(
        "embedding" not in b and "_vec" not in b and "codes" not in b
        for b in pq_exchanges
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pdf_text_extract_is_single_python_chain_no_shuffle(spark):
    """Real-PDF explode: build → parse is a straight-line map chain —
    zero exchanges (page order comes from the parser, not a sort)."""
    from pyspark.sql import types as T

    from ocr_spark.operators import pages as pages_ops

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    def build(it):
        import pandas as pd

        from ocr_spark.kernels.pdf import build_pdf

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [build_pdf([t]) for t in pdf["text"]],
                }
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    out = pages_ops.pdf_pages_from_bytes(
        docs.select("doc_id", "text").mapInPandas(build, schema)
    )
    plan = _plan(out)
    assert "Exchange" not in plan


def test_pdf_query_repartitions_once_then_stays_fused(spark):
    """The registered PDF queries force doc-axis parallelism with ONE
    round-robin exchange before the codec chain (the corpus parquet is a
    single split at test SF while each doc carries real per-doc codec
    work); everything after the exchange is still one fused Python chain
    with no further shuffle."""
    import __spark_entry__ as se

    out = se.queries()["pdf_encrypted_extract"](spark, SF)
    plan = _plan(out)
    ex = _exchange_blocks(plan)
    assert len(ex) == 1, plan
    assert "RoundRobinPartitioning" in ex[0] or "roundrobin" in ex[0].lower(), ex[0]
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_decontaminate_broadcasts_bench_grams(spark):
    # the eval-set gram table is bounded by construction (an eval suite,
    # not the corpus) -> it must ride a broadcast, and the corpus text
    # must never cross an exchange: the probe carries (gram, doc_id),
    # the count rides (doc_id, n) -- that is what survives 100 TB
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    plan = _plan(textops.decontaminate(docs, bench))
    assert "BroadcastHashJoin" in plan
    for b in _exchange_blocks(plan):
        assert "text#" not in b


def test_domain_mix_broadcasts_weights_corpus_never_shuffles(spark):
    # the domain-weight table is bounded by the number of sources ->
    # it broadcasts; the corpus side must reach the final join without
    # an exchange (its only shuffle feeds the tiny per-domain agg)
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.domain_mix(docs))
    assert "BroadcastHashJoin" in plan
    for b in _exchange_blocks(plan):
        assert "text#" not in b and "doc_id#" not in b


def test_pack_sequences_single_exchange_on_shard(spark):
    # one hash exchange on the shard key feeds the running-sum window;
    # nothing else shuffles, and the text column never crosses the wire
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.pack_sequences(docs))
    blocks = _exchange_blocks(plan)
    assert len(blocks) == 1
    assert "text#" not in blocks[0]


def test_dup_span_detect_shuffles_hashes_never_text(spark):
    # spans travel as md5 hashes: the global count exchange and the
    # dup-set join carry (hash, count) / (hash, doc_id) only -- the
    # document text must never cross an exchange at any stage
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.dup_span_detect(docs))
    for b in _exchange_blocks(plan):
        assert "text#" not in b


def test_line_dedup_count_exchange_carries_no_text(spark):
    # the line-occurrence count aggregates on md5(line) with map-side
    # partial agg -- only (hash, count) crosses that exchange; the one
    # exchange allowed to carry line text is the per-doc reassembly
    # (collect_list), which is keyed by the id column
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.line_dedup(docs))
    blocks = _exchange_blocks(plan)
    # the count aggregate's exchange is (hash, partial count) only --
    # raw line text and doc ids never ride it
    count_blocks = [b for b in blocks if "lh#" in b]
    assert count_blocks
    for b in count_blocks:
        assert "line#" not in b and "doc_id#" not in b
    # line text crosses exactly once, inside the reassembly exchange's
    # partial collect_list buffer keyed by the doc id
    reasm = [b for b in blocks if "doc_id#" in b]
    assert len(reasm) == 1 and "buf#" in reasm[0]


def test_semdedup_pairwise_is_cell_keyed_never_nested_loop(spark):
    # the quadratic must be contained per k-means cell: the self-join is
    # an equi-join on the int cell key (hash-partitioned or broadcast),
    # never a BroadcastNestedLoopJoin / cartesian all-pairs
    import numpy as np

    from ocr_spark.operators import dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = np.round(
        np.eye(4, 64, dtype=np.float64), 6
    )  # fixed quantizer: plan shape only
    plan = _plan(dedup.semdedup(emb, centroids=cents))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "cell#" in plan


def test_gopher_rules_is_pure_codegen_map(spark):
    # the Gopher rule filter is per-row arithmetic: ZERO exchanges,
    # no Python workers — at 100 TB it runs at scan speed
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.gopher_rules(docs))
    assert not _exchange_blocks(plan)
    assert "InPandas" not in plan and "EvalPython" not in plan
    # one Project over the scan; the higher-order lambdas stay JVM-side
    # (they sit outside whole-stage codegen but never leave the executor)
    assert "codegen id" in plan


def test_ngram_lm_score_shuffles_hashes_never_text(spark):
    # bigram/context counts aggregate on md5 hashes with map-side
    # partials; document text must never cross an exchange, and the
    # whole query is JVM-side (no Python stage anywhere)
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.ngram_lm_score(docs))
    assert "InPandas" not in plan and "EvalPython" not in plan
    for b in _exchange_blocks(plan):
        assert "text#" not in b


def test_dsir_weights_broadcasts_ratio_table(spark):
    # the bucket likelihood-ratio table is ≤64 rows — it must ride a
    # broadcast into the token probe; text never crosses an exchange
    # (tokens are reduced to an int bucket before any shuffle)
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.dsir_weights(docs, docs.filter(F.col("lang") == "en")))
    # the token-stream probe joins the ratio table hash-broadcast; the
    # only nested-loop joins are the 1-row totals attached to the
    # ≤64-row bucket table (bounded by construction, like domain_mix)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for b in _exchange_blocks(plan):
        assert "text#" not in b


def test_warc_roundtrip_single_exchange_single_python_stage(spark):
    # parallel axis = WARC files: one hash exchange on the shard key
    # feeds one grouped-map stage that writes AND parses the container;
    # nothing shuffles after it
    from ocr_spark import sources

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    import re

    plan = _plan(sources.warc_roundtrip(docs))
    assert len(_exchange_blocks(plan)) == 1
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1


def test_corpus_shuffle_single_exchange_no_text(spark):
    # the epoch shuffle is one hash exchange on the shard key feeding a
    # per-shard row_number window — text never crosses, no global sort
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.corpus_shuffle(docs))
    blocks = _exchange_blocks(plan)
    assert len(blocks) == 1 and "text#" not in blocks[0]
    assert "rangepartitioning" not in plan.lower()  # no global sort


def test_mixture_sample_corpus_never_shuffles(spark):
    # weights broadcast (domain-bounded table); the corpus side reaches
    # the draw without an exchange carrying doc rows
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.mixture_sample(docs))
    assert "BroadcastHashJoin" in plan
    for b in _exchange_blocks(plan):
        assert "text#" not in b and "doc_id#" not in b


def test_bloom_dedup_shuffles_positions_never_text(spark):
    # text reduces map-side to k int bit positions; both exchanges (the
    # per-position first-setter agg and the per-doc flag agg) carry only
    # ids + ints — never document text
    from ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.bloom_dedup(docs))
    blocks = _exchange_blocks(plan)
    assert blocks, "expected shuffle exchanges"
    for b in blocks:
        assert "text#" not in b


def test_url_canonicalize_exchanges_carry_urls_not_docs(spark):
    # extraction + canonicalization are per-row codegen; only URL-sized
    # keys reach the aggregation exchanges
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.url_canonicalize(docs))
    for b in _exchange_blocks(plan):
        assert "text#" not in b


def test_text_sanitize_no_shuffle_single_python_stage(spark):
    # per-row JVM regexps + ONE Arrow-batched NFC UDF — no exchange
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.text_sanitize(docs))
    assert not _exchange_blocks(plan)
    import re

    # both _nfc references collapse into ONE ArrowEvalPython node
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1


def test_vocab_oov_broadcasts_vocab(spark):
    # the k-row vocabulary broadcasts into the probe join; the count
    # exchange carries (token, count) — never document text
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.vocab_oov(docs))
    assert "BroadcastHashJoin" in plan
    for b in _exchange_blocks(plan):
        assert "text#" not in b


def test_split_assign_no_shuffle(spark):
    # per-row md5 arithmetic only — zero exchanges
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.split_assign(docs))
    assert not _exchange_blocks(plan)


def test_substring_dedup_cut_hash_exchanges_only(spark):
    # window occurrences travel as (doc_id, pos, md5); the token arrays
    # cross at most the final probe-join exchange (AQE broadcasts the
    # rare-duplicate covered side away at runtime); raw text never rides
    # any exchange
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.substring_dedup_cut(docs))
    blocks = _exchange_blocks(plan)
    assert blocks
    for b in blocks:
        assert "text#" not in b
    ts_blocks = [b for b in blocks if "__ts#" in b]
    assert len(ts_blocks) <= 1
    # the canonical-occurrence aggregate shuffles hash + ints only
    h_blocks = [b for b in blocks if re.search(r"\bh#", b) and "__ts#" not in b]
    assert h_blocks


def test_bm25_topk_broadcasts_and_prunes_two_phase(spark):
    # query-term and idf tables broadcast; exchanges carry (id, term,
    # counts) for matching terms only — never document text; top-k is
    # two-phase (per-shard prune window, then the final rank)
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.bm25_topk(docs, ("fast table scan",), k=5))
    assert "BroadcastHashJoin" in plan
    for b in _exchange_blocks(plan):
        assert "text#" not in b
    # the prune phase shuffles on (query_id, shard) — the full match set
    # never funnels into one partition per query
    assert "hashpartitioning(query_id" in plan
    assert "__shard" in plan
    assert "Exchange SinglePartition" not in plan


def test_jsonl_roundtrip_single_exchange(spark):
    # one exchange on the shard key into one grouped-map stage — the
    # write-and-parse runs in-stage, text shuffles once and only once
    from ocr_spark import sources

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(sources.jsonl_roundtrip(docs))
    assert len(_exchange_blocks(plan)) == 1
    assert plan.count("FlatMapGroupsInPandas") >= 1


def test_classifier_score_zero_exchanges(spark):
    # inference is one per-row JVM aggregate over the hoisted token
    # array — embarrassingly parallel, zero exchanges, no Python
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.classifier_score(docs))
    assert not _exchange_blocks(plan)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_cross_snapshot_dedup_joins_digests_not_text(spark):
    from ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        dedup.cross_snapshot_dedup(docs, docs.filter(F.col("doc_id") % 3 == 0))
    )
    for b in _exchange_blocks(plan):
        assert "text#" not in b


def test_domain_cap_two_phase_no_single_partition(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.domain_cap(docs, k=5))
    assert "Exchange SinglePartition" not in plan
    assert "__shard" in plan
    for b in _exchange_blocks(plan):
        assert "text#" not in b


def test_winnow_fingerprint_zero_exchanges(spark):
    # token->gram->keyed->window-min arrays are all per-row lambdas;
    # the explode is narrow — nothing shuffles, no Python
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.winnow_fingerprint(docs))
    assert not _exchange_blocks(plan)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_chunk_overlap_zero_exchanges(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.chunk_overlap(docs))
    assert not _exchange_blocks(plan)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_script_detect_zero_exchanges(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.script_detect(docs))
    assert not _exchange_blocks(plan)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_snapshot_diff_joins_digests_not_text(spark):
    from ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        dedup.snapshot_diff(
            docs.filter(F.col("doc_id") % 12 != 3),
            docs.filter(F.col("doc_id") % 3 == 0),
        )
    )
    for b in _exchange_blocks(plan):
        assert "text#" not in b


def test_image_ahash_candidates_shuffles_ints_not_hex_or_payload(spark):
    import pandas as pd

    from ocr_spark.operators import multimodal

    pdf = pd.DataFrame(
        {
            "vec_id": range(20),
            "payload": [
                multimodal.encode_fake_image(v, 8, 8) for v in range(20)
            ],
        }
    )
    hashes = multimodal.image_ahash(spark.createDataFrame(pdf))
    plan = _plan(multimodal.image_ahash_candidates(hashes))
    for b in _exchange_blocks(plan):
        assert "ahash_hex#" not in b and "payload#" not in b


def test_embedding_outliers_broadcasts_centroids_no_vector_shuffle(spark):
    from ocr_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(similarity.embedding_outliers(emb))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    for b in _exchange_blocks(plan):
        # only (label, dim, partial-sum) ints may shuffle; the corpus
        # side attaches to the broadcast centroid table in place
        assert "embedding#" not in b and "__v#" not in b


def test_cross_snapshot_novelty_shuffles_digests_not_text(spark):
    from ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        dedup.cross_snapshot_novelty(docs, docs.filter(F.col("doc_id") % 3 == 0))
    )
    for b in _exchange_blocks(plan):
        assert "text#" not in b and "__ts#" not in b


def test_orc_roundtrip_single_exchange(spark):
    from ocr_spark import sources

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(sources.orc_roundtrip(docs))
    assert len(_exchange_blocks(plan)) == 1
    assert plan.count("FlatMapGroupsInPandas") >= 1


def test_taxonomy_tag_zero_exchanges(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.taxonomy_tag(docs))
    assert not _exchange_blocks(plan)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join evidence (SKEW.md §2): a join where one conv_id owns
    2/3 of the rows gets rewritten to SortMergeJoin(skew=true) in the
    final adaptive plan when skewJoin is enabled — the runtime safety net
    under the engine's explicit salting."""
    import re

    keys = [
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.forceOptimizeSkewedJoin",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in {
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
            "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        }.items():
            spark.conf.set(k, v)
        n_hot, n_cold, n_convs = 40000, 20000, 64
        left = spark.range(n_hot + n_cold).select(
            F.when(F.col("id") < n_hot, F.lit("conv-hot"))
            .otherwise(
                F.concat(F.lit("conv-"), (F.col("id") % n_convs).cast("string"))
            )
            .alias("conv_id"),
            F.col("id").alias("turn_idx"),
            F.repeat(F.lit("x"), 64).alias("text"),
        )
        right = spark.range(n_convs + 1).select(
            F.when(F.col("id") == n_convs, F.lit("conv-hot"))
            .otherwise(F.concat(F.lit("conv-"), F.col("id").cast("string")))
            .alias("conv_id"),
            F.col("id").alias("conv_meta"),
        )
        j = left.join(right, "conv_id")
        assert len(j.collect()) == n_hot + n_cold
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert re.search(r"SortMergeJoin\(skew=true\)", plan), plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_reshard_by_bytes_two_phase_prefix_sum(spark):
    """Document rows go through the bucket-partitioned window only; the
    single-partition window exists solely over the 256-row totals frame,
    which comes back via a broadcast join — and no text column ever
    crosses an exchange."""
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.reshard_by_bytes(docs))
    assert "BroadcastHashJoin" in plan
    # the only SinglePartition exchange feeds the bucket-offset window,
    # downstream of a HashAggregate (totals), never raw document rows
    import re

    blocks = plan.split("\n\n")
    for i, b in enumerate(blocks):
        if "SinglePartition" in b:
            assert "text" not in b
    for b in _exchange_blocks(plan):
        assert "text" not in b


def test_pagerank_constant_depth_no_text(spark):
    from pyspark.sql import functions as F

    from ocr_spark.operators import graph

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    edges = docs.selectExpr(
        "cast(doc_id % 37 as string) as src",
        "cast(doc_id % 11 as string) as dst",
    )
    plan = _plan(graph.pagerank(edges))
    # fixed 3-iteration plan: no iterative driver loop artifacts, and
    # every exchange carries only node keys / counts / rank longs
    for b in _exchange_blocks(plan):
        assert "text" not in b
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cross_snapshot_fuzzy_bands_only_cross_join(spark):
    from pyspark.sql import functions as F

    from ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        dedup.cross_snapshot_fuzzy(
            docs, docs.filter(F.col("doc_id") % 3 == 0)
        )
    )
    # text enters the two signature UDF stages but never an exchange
    for b in _exchange_blocks(plan):
        assert "text" not in b
    assert plan.count("MapInPandas") >= 2
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_layout_zero_exchanges(spark):
    from ocr_spark.operators import relational

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(relational.zorder_layout(docs))
    assert not _exchange_blocks(plan)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sessionize_single_exchange(spark):
    from ocr_spark.operators import relational

    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(relational.sessionize(events))
    # one shuffle on user_id feeds both windows AND the final aggregate
    # (hash partitioning on user_id satisfies the (user_id, session_seq)
    # clustering requirement — the groupBy must not re-exchange)
    assert len(_exchange_blocks(plan)) == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_template_detect_text_never_shuffles(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.template_detect(docs))
    for b in _exchange_blocks(plan):
        assert "text" not in b  # skeletons travel as md5 only
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_mojibake_detect_zero_exchanges(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.mojibake_detect(docs))
    assert not _exchange_blocks(plan)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_anchor_text_html_never_shuffles(spark):
    from pyspark.sql import functions as F

    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("html")
    )
    plan = _plan(textops.anchor_text(docs))
    for b in _exchange_blocks(plan):
        assert "html" not in b  # only (domain, anchor, cnt) cross
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pmi_collocations_plan_shape(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.pmi_collocations(docs))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    for b in _exchange_blocks(plan):
        assert "text" not in b  # tokens/bigrams cross, documents don't


def test_ohlc_bars_single_exchange(spark):
    from ocr_spark.operators import relational

    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(relational.ohlc_bars(events))
    assert len(_exchange_blocks(plan)) == 1  # map-side combine, one agg
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_html_meta_and_char_diversity_zero_exchanges(spark):
    from pyspark.sql import functions as F

    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        textops.html_meta(docs.select("doc_id", F.col("text").alias("html")))
    )
    assert not _exchange_blocks(plan)
    plan2 = _plan(textops.char_diversity(docs))
    assert not _exchange_blocks(plan2)
    for p in (plan, plan2):
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_homoglyph_detect_zero_exchanges(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.homoglyph_detect(docs))
    assert not _exchange_blocks(plan)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_vocab_drift_text_never_shuffles(spark):
    from pyspark.sql import functions as F

    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        textops.vocab_drift(docs, docs.filter(F.col("doc_id") % 3 == 0))
    )
    for b in _exchange_blocks(plan):
        assert "text" not in b  # only (token, count) pairs cross
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_dehyphenate_and_readability_zero_exchanges(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for op in (textops.dehyphenate, textops.readability_score):
        plan = _plan(op(docs))
        assert not _exchange_blocks(plan)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_strip_page_furniture_no_python(spark):
    from pyspark.sql import functions as F

    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pg = docs.select(
        "doc_id",
        F.lit(0).alias("page_idx"),
        F.col("text").alias("page_text"),
    )
    plan = _plan(textops.strip_page_furniture(pg))
    # lines cross exchanges (the corpus-support count needs them), but
    # never a Python worker
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_table_to_markdown_single_exchange(spark):
    from pyspark.sql import functions as F

    from ocr_spark.operators import relational

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rec = docs.select(
        "doc_id",
        F.lit(0).alias("row_idx"),
        F.array(F.col("text")).alias("cells"),
    )
    plan = _plan(relational.table_to_markdown(rec, ["text"]))
    assert len(_exchange_blocks(plan)) == 1  # the group-by reassembly
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_special_token_scrub_zero_exchanges(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.special_token_scrub(docs))
    assert not _exchange_blocks(plan)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_fuzzy_title_pairs_no_nested_loop(spark):
    from pyspark.sql import functions as F

    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    titles = docs.select(
        F.col("doc_id").alias("title_id"),
        F.substring("text", 1, 40).alias("title"),
    )
    plan = _plan(textops.fuzzy_title_pairs(titles))
    # the block key makes it an equi-join: never a cartesian/nested loop
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sentence_chunk_single_exchange(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.sentence_chunk(docs))
    # one hash exchange on doc_id; the (id, chunk) group-by is a
    # subset-key clustering satisfied by it, and the sentence ids and
    # sentence starts share the one (id ORDER BY idx) window sort
    assert len(_exchange_blocks(plan)) == 1
    assert _sorts(plan) == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_negative_sample_plan_shape(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.negative_sample(docs))
    # pure JVM: no Python evaluation anywhere
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # column pruning: the ring is built from doc_id alone — the reader
    # must never materialize text/lang/source
    assert "text" not in plan
    # the corpus-sized frame is windowed per md5-prefix bucket, never
    # globally: the lead() windowspec carries the bucket partition key,
    # and no exchange anywhere funnels to a single partition (the tiny
    # heads frames get WindowGroupLimit + TakeOrderedAndProject instead)
    assert "windowspecdefinition(bucket" in plan
    assert not any(
        "SinglePartition" in b for b in _exchange_blocks(plan)
    )
    # the corpus joins its per-bucket successors via broadcast hash
    # join; nested loops appear only between the two bounded tiny
    # frames (<=256 buckets x <=2-per-bucket heads), never against the
    # corpus-sized lead frame
    assert "BroadcastHashJoin" in plan
    for b in plan.split("\n\n"):
        if "BroadcastNestedLoopJoin" in b:
            assert "__l1" not in b and "__l2" not in b


def test_snapshot_upsert_base_text_never_shuffles(spark):
    from ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ch = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.lit("upsert").alias("op"),
        "text",
        F.lit(1).alias("seq"),
    )
    plan = _plan(dedup.snapshot_upsert(docs, ch))
    # the merged side joins the collapsed delta via broadcast, so any
    # shuffle exchange carrying a text column is the DELTA (op/seq or
    # the collapsed __c struct aboard) — base text never crosses
    for b in _exchange_blocks(plan):
        if "text" in b:
            assert "seq" in b or "op" in b or "__c" in b
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_hard_negatives_shuffles_ids_not_text(spark):
    from ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.hard_negatives(docs))
    # band keys, ids, and 16-byte digests cross the wire — never text
    for b in _exchange_blocks(plan):
        assert "text#" not in b
    assert "CartesianProduct" not in plan


def test_kn_lm_score_shuffles_hashes_not_text(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.kn_lm_score(docs))
    # bigrams cross as (md5, md5) pairs and counts — never text
    for b in _exchange_blocks(plan):
        assert "text#" not in b
    assert "BroadcastExchange" in plan  # the 1-row bigram-type total
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_ict_pairs_zero_exchanges(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.ict_pairs(docs))
    assert not _exchange_blocks(plan)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_release_checksum_single_exchange_no_text(spark):
    from ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.release_checksum(docs))
    blocks = _exchange_blocks(plan)
    # ONE exchange on the 1-byte bucket with map-side partial sums —
    # text is digested before it, so only (bucket, count, sums) cross
    assert len(blocks) == 1
    assert "text#" not in blocks[0]
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_containment_shuffles_ids_not_text(spark):
    from ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.containment_pairs(docs))
    # same chain shape as the Jaccard verify: band keys/ids cross the
    # exchanges, shingle arrays attach by id join — raw text never
    for b in _exchange_blocks(plan):
        assert "text#" not in b
    assert "CartesianProduct" not in plan


def test_transcript_ops_single_exchange_on_conv(spark):
    from ocr_spark.operators import transcript

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    turns = docs.select(
        F.format_string("conv_%04d", F.col("doc_id") % 97).alias("conv_id"),
        F.expr("doc_id DIV 97").cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        F.col("text"),
    )
    # all five transcript stages are one hash partition on conv_id +
    # windows over (conv_id, turn_idx) — chained stages could reuse it
    for op in (
        transcript.qa_pairs,
        transcript.clean_turns,
        transcript.validate_roles,
        transcript.loss_mask,
        transcript.trim_context,
    ):
        plan = _plan(op(turns))
        blocks = _exchange_blocks(plan)
        assert len(blocks) == 1, op.__name__
        assert "hashpartitioning(conv_id" in plan, op.__name__
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_kmv_distinct_no_raw_text_across_exchanges(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.kmv_distinct(docs))
    # distinct hashes partial-aggregate map-side; whole documents never
    # ride an exchange (exploded tokens may — that IS the distinct set)
    for b in _exchange_blocks(plan):
        assert "text#" not in b
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_temperature_mix_broadcasts_targets(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("domain"),
    )
    plan = _plan(textops.temperature_mix(docs))
    # the offsets/targets frame (≤ domains×256 rows) broadcasts; the
    # corpus-side rank window partitions on (domain, md5-prefix bucket)
    # — NEVER on domain alone, which would sort a head domain in one
    # task — and global rank = broadcast bucket offset + row_number
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    win = [ln for ln in tree.splitlines() if "Window" in ln or "Sort" in ln]
    assert win
    # the big window's exchange hashes on both domain and the bucket
    assert any("hashpartitioning(domain" in b and "__b" in b for b in _exchange_blocks(plan))


def test_conversation_dedup_text_never_shuffles(spark):
    from ocr_spark.operators import transcript

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    turns = docs.select(
        F.format_string("conv_%04d", F.col("doc_id") % 97).alias("conv_id"),
        F.expr("doc_id DIV 97").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
    )
    plan = _plan(transcript.dedup_conversations(turns))
    # per-turn digests are computed before the conv_id exchange — only
    # (conv_id, turn_idx, 32-char digest) crosses, then one 32-byte key
    # per conversation for the digest-keyed winner pass
    blocks = _exchange_blocks(plan)
    assert blocks
    for b in blocks:
        assert "text#" not in b
    assert plan.count("HashAggregate") >= 2  # partial + final collect


def _agent_turns_frame(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return docs.select(
        F.format_string("conv_%04d", F.col("doc_id") % 97).alias("conv_id"),
        F.expr("doc_id DIV 97").cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        F.col("text"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("search")).alias("tool"),
        (F.col("doc_id") % 100000).cast("long").alias("ts_s"),
    )


def test_agent_trace_ops_one_conv_exchange(spark):
    from ocr_spark.operators import agenttrace

    turns = _agent_turns_frame(spark)
    # the window partitioning IS the only full-width exchange; the
    # trailing aggregates key on tool names / conv_id (tiny or already
    # co-partitioned) and must partial-aggregate map-side
    for op, max_ex in (
        (agenttrace.tool_stats, 2),  # conv window + 4-key tool agg
        (agenttrace.tool_bigrams, 2),  # conv window + 16-key pair agg
        (agenttrace.turn_latency, 1),  # agg rides the window partition
        (agenttrace.tool_loops, 1),  # islands ride the window partition
    ):
        plan = _plan(op(turns))
        blocks = _exchange_blocks(plan)
        assert len(blocks) <= max_ex, (op.__name__, len(blocks))
        assert "hashpartitioning(conv_id" in plan, op.__name__
        assert "partial" in plan.lower(), op.__name__  # map-side combine
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_tool_loops_one_window_sort(spark):
    from ocr_spark.operators import agenttrace

    # runs.run_ids numbers the runs over the conv window alone: no
    # second rank window partitioned by (conv_id, tool), so one sort
    plan = _plan(agenttrace.tool_loops(_agent_turns_frame(spark)))
    assert _sorts(plan) == 1
    assert len(_exchange_blocks(plan)) == 1


def test_code_blocks_zero_exchanges(spark):
    from ocr_spark.operators import agenttrace

    plan = _plan(agenttrace.code_blocks(_agent_turns_frame(spark)))
    assert not _exchange_blocks(plan)  # per-row JVM regexp + explode


def test_cms_counter_grid_broadcasts(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.cms_heavy_hitters(docs))
    # the 4x64 counter grid and the 1-row total broadcast; the only
    # hash exchanges carry (token, count) pairs — never document text
    assert "BroadcastExchange" in plan
    for b in _exchange_blocks(plan):
        if "Broadcast" in b:
            continue
        assert "text" not in b, b


def test_hll_distinct_register_rows_only_across_exchanges(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.hll_distinct(docs))
    # (group, register) max partial-aggregates map-side — ≤64 rows per
    # group cross the exchange; whole documents never ride one
    for b in _exchange_blocks(plan):
        assert "text#" not in b
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_rrf_fuse_no_nested_loop_and_bounded_window(spark):
    from ocr_spark.operators import similarity, textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    lex = textops.bm25_topk(docs, ("fast table scan",), k=10).select(
        "query_id", "doc_id", "rank"
    )
    dense = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 1), k=10
    ).select(
        F.col("q_id").cast("int").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    plan = _plan(similarity.rrf_fuse([("lex", lex), ("dense", dense)]))
    # legs union as bounded (query, doc, rank) triples; the dense leg's
    # probe set broadcasts (tiny queries frame), the fused window
    # partitions on query_id — never a single global sort
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(query_id" in plan
    for b in _exchange_blocks(plan):
        assert "embedding#" not in b and "text#" not in b


def test_bitext_mine_broadcast_probes_no_vector_shuffle(spark):
    from ocr_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    plan = _plan(
        similarity.bitext_mine(even.filter(F.col("vec_id") < 32), even, odd)
    )
    # probe and candidate sets broadcast against the corpora (the
    # cosine_topk pattern); the two ranking windows exchange only
    # (id, id, cos_e4) triples — vectors never shuffle
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(src_id" in plan
    assert "hashpartitioning(tgt_id" in plan
    for b in _exchange_blocks(plan):
        assert "embedding#" not in b and "q_vec#" not in b
        assert "t_vec#" not in b


def test_audit_truncation_one_conv_exchange(spark):
    from ocr_spark.operators import transcript

    turns = spark.createDataFrame(
        [("c1", 0, "user", "hi"), ("c1", 1, "assistant", "done.")],
        ["conv_id", "turn_idx", "role", "text"],
    )
    plan = _plan(transcript.audit_truncation(turns))
    # per-turn flags are scan-stage expressions; ONE hash aggregation
    # on conv_id, no window, no join
    assert plan.count("Exchange") <= 2  # partial agg + final (AQE may fuse)
    assert "Window" not in plan and "Join" not in plan


def test_span_corruption_single_doc_exchange(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.span_corruption(docs))
    # the lag chain, prefix sum and ordered re-assembly all share one
    # hashpartitioning(doc_id) — tokens cross the wire exactly once
    assert plan.count("Exchange") <= 2
    assert "hashpartitioning(doc_id" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_fim_transform_zero_exchanges(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.fim_transform(docs))
    # pure per-row expressions over the hoisted token array
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_grounding_score_no_exchange_beyond_qa_window(spark):
    from ocr_spark.operators import transcript

    turns = spark.createDataFrame(
        [("c1", 0, "user", "a b c"), ("c1", 1, "assistant", "a b")],
        ["conv_id", "turn_idx", "role", "text"],
    )
    plan = _plan(transcript.grounding_score(transcript.qa_pairs(turns)))
    # bigram sets + intersection are scan-stage expressions on top of
    # the single qa_pairs conv_id window
    assert len(_exchange_blocks(plan)) == 1
    assert "Join" not in plan


def test_refusal_detect_one_integer_exchange(spark):
    from ocr_spark.operators import transcript

    turns = spark.createDataFrame(
        [("c1", 0, "assistant", "i cannot do that")],
        ["conv_id", "turn_idx", "role", "text"],
    )
    plan = _plan(transcript.flag_refusals(turns))
    blocks = _exchange_blocks(plan)
    # one conv_id aggregation of partial-combined integer flags; the
    # phrase chain is a map-side JVM expression, text never shuffles
    assert len(blocks) == 1
    assert "text" not in blocks[0]
    assert "partial" in plan.lower()


def test_fork_prefixes_text_never_shuffles(spark):
    from ocr_spark.operators import transcript

    turns = spark.createDataFrame(
        [("c1", 0, "user", "a"), ("c2", 0, "user", "a")],
        ["conv_id", "turn_idx", "role", "text"],
    )
    plan = _plan(transcript.fork_prefixes(turns))
    # digests are computed map-side: no Exchange block may carry the
    # raw text column (digest cols are __d / pdig)
    for b in _exchange_blocks(plan):
        assert "text" not in b
    assert "BroadcastNestedLoopJoin" not in plan


def test_render_chat_single_conv_exchange(spark):
    from ocr_spark.operators import transcript

    turns = spark.createDataFrame(
        [("c1", 0, "user", "a"), ("c1", 1, "assistant", "b")],
        ["conv_id", "turn_idx", "role", "text"],
    )
    plan = _plan(transcript.render_chat(turns))
    # ordered concat happens inside the aggregate: one exchange, no
    # window, no sort-based second pass
    assert len(_exchange_blocks(plan)) == 1
    assert "Window" not in plan


def test_main_content_reuses_classifier_partitioning(spark):
    import pandas as pd

    from ocr_spark.operators import textops

    paras = spark.createDataFrame(
        pd.DataFrame(
            [(0, 0, "the cat sat on a mat in the sun by a tree")],
            columns=["doc_id", "para_idx", "para_text"],
        )
    )
    plan = _plan(textops.main_content(paras))
    # the reassembly groups on the SAME doc_id the classifier window
    # partitioned by -> Catalyst must not add a second exchange
    assert len(_exchange_blocks(plan)) == 1


def test_script_segments_one_doc_exchange(spark):
    from ocr_spark.operators import textops

    lines = spark.createDataFrame(
        [(0, 0, "hello"), (0, 1, "привет")],
        ["doc_id", "line_idx", "line_text"],
    )
    plan = _plan(textops.script_segments(lines))
    # label is a map-side regexp argmax; the run window and the segment
    # agg partition on doc_id -> one exchange, and raw line text never
    # crosses it; the run id is the segment index, so the one window
    # sort is the only sort
    blocks = _exchange_blocks(plan)
    assert len(blocks) == 1
    assert "line_text" not in blocks[0]
    assert _sorts(plan) == 1


def test_hist_quantiles_sketch_sized_exchanges(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.hist_quantiles(docs))
    # (lang, bucket) counts partial-combine map-side; text never
    # leaves the scan stage
    assert "partial" in plan.lower()
    for b in _exchange_blocks(plan):
        assert "text" not in b


def test_dom_density_zero_exchanges(spark):
    from ocr_spark.operators import textops

    rows = spark.createDataFrame(
        [(0, "<p>some body text</p>")], ["doc_id", "html"]
    )
    plan = _plan(textops.dom_density_blocks(rows))
    # block extraction + ratio math are per-row regexp expressions
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_conversation_tiers_text_shuffles_once(spark):
    from ocr_spark.operators import transcript

    turns = spark.createDataFrame(
        [("c1", 0, "user", "a"), ("c1", 1, "assistant", "b")],
        ["conv_id", "turn_idx", "role", "text"],
    )
    plan = _plan(transcript.conversation_tiers(turns))
    # text rides ONLY the clean_turns conv_id window exchange; the
    # boilerplate count and both per-conversation aggregates exchange
    # digests and integers
    with_text = [b for b in _exchange_blocks(plan) if "text" in b]
    assert len(with_text) == 1


def test_turn_novelty_hash_only_exchanges(spark):
    from ocr_spark.operators import transcript

    turns = spark.createDataFrame(
        [("c1", 0, "user", "a b c d e f g h i"), ("c1", 1, "user", "x")],
        ["conv_id", "turn_idx", "role", "text"],
    )
    plan = _plan(transcript.turn_novelty(turns))
    # window hashes are map-side md5 over the hoisted token array: no
    # Exchange block may carry the raw text or the token array
    for b in _exchange_blocks(plan):
        assert "text" not in b and "__ts" not in b
    assert "BroadcastNestedLoopJoin" not in plan


def test_contained_conversations_equi_join_digests_only(spark):
    from ocr_spark.operators import transcript

    turns = spark.createDataFrame(
        [("c1", 0, "user", "a"), ("c2", 0, "user", "a"), ("c2", 1, "user", "b")],
        ["conv_id", "turn_idx", "role", "text"],
    )
    plan = _plan(transcript.contained_conversations(turns))
    # the containment probe is an equi-join on (prefix digest, length)
    # with the strict-length predicate as a post-filter — never a
    # nested loop — and text never rides an exchange
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for b in _exchange_blocks(plan):
        assert "text" not in b


def test_script_drift_label_sized_exchanges(spark):
    from ocr_spark.operators import transcript

    turns = spark.createDataFrame(
        [("c1", 0, "user", "hello"), ("c1", 1, "user", "мир")],
        ["conv_id", "turn_idx", "role", "text"],
    )
    plan = _plan(transcript.script_drift(turns))
    # the per-turn script label is a map-side regexp argmax: only
    # (conv_id, 16-char label, count) rows cross the two exchanges
    blocks = _exchange_blocks(plan)
    assert len(blocks) == 2
    for b in blocks:
        assert "text" not in b


def test_role_stats_single_partial_agg_exchange(spark):
    from ocr_spark.operators import transcript

    turns = spark.createDataFrame(
        [("c1", 0, "user", "a b"), ("c1", 1, "assistant", "x")],
        ["conv_id", "turn_idx", "role", "text"],
    )
    plan = _plan(transcript.role_stats(turns))
    # one conv_id exchange carrying six integers per conversation,
    # partial-combined map-side
    blocks = _exchange_blocks(plan)
    assert len(blocks) == 1
    assert "text" not in blocks[0]
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_near_dup_text_never_rides_an_exchange(spark):
    from ocr_spark.operators import transcript

    turns = spark.createDataFrame(
        [("c1", i, "user", f"t{i}") for i in range(4)]
        + [("c2", i, "user", f"t{i}") for i in range(4)],
        ["conv_id", "turn_idx", "role", "text"],
    )
    df = transcript.near_dup_conversations(turns)
    plan = _plan(df)
    # per-turn digests are map-side md5 — raw text never shuffles; the
    # band join is an equi-join on (band_idx, band_key), never a
    # nested loop; all 4 bands leave in ONE posexplode (no per-band
    # union re-running the signature aggregation)
    for b in _exchange_blocks(plan):
        assert "text" not in b
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("posexplode(") >= 1
    assert "Union" not in plan  # one posexplode, not a per-band union
    # the band frame is cached, so the self-join's two sides scan the
    # 16-hash signature once instead of recomputing it per side
    assert "InMemoryTableScan" in plan


def test_stratified_split_two_phase_metadata_only_single_partition(spark):
    from ocr_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textops.stratified_split(docs))
    # the quota table broadcasts back to the corpus side
    assert "BroadcastExchange" in plan
    # the per-stratum selection is the domain_cap two-phase rank
    assert "__shard" in plan
    # text never rides an exchange (only strata, id, 32-char key move)
    for b in _exchange_blocks(plan):
        assert "text#" not in b
    # SinglePartition exchanges are allowed ONLY for the apportionment
    # windows over the metadata-scale counts frame (one row per
    # stratum); the corpus side is covered by the text# check above


def test_mmr_rerank_single_exchange_grouped_map(spark):
    from ocr_spark.operators import similarity

    cand = spark.createDataFrame(
        [("q1", i, i + 1, ["a", "b", f"t{i}"]) for i in range(10)],
        ["query_id", "doc_id", "rank", "toks"],
    )
    plan = _plan(similarity.mmr_rerank(cand))
    # the whole greedy loop is one Arrow grouped map after ONE exchange
    # on the query id — no unrolled per-iteration join/window rounds
    assert "FlatMapGroupsInPandas" in plan
    assert len(_exchange_blocks(plan)) == 1
    assert "Window" not in plan


def test_sft_manifest_text_shuffles_once(spark):
    from ocr_spark.operators import transcript

    turns = spark.createDataFrame(
        [("c1", i, "user" if i % 2 == 0 else "assistant", f"w{i} x y")
         for i in range(6)],
        ["conv_id", "turn_idx", "role", "text"],
    )
    plan = _plan(transcript.sft_manifest(turns))
    # text crosses exactly TWO exchanges: the raw-turns conv_id window
    # (clean/merge) and the merged-runs re-cluster for render (merge's
    # groupBy leaves data clustered on (conv_id, run), not conv_id).
    # The merged frame is persisted so its subtree isn't duplicated by
    # the gate self-join; split membership is an inline per-row md5
    # filter (split_u), never a self-join; and the final packing
    # exchange on the digest shard carries only (conv_id, shard,
    # n_tokens) — the rendered string never rides a shuffle
    with_text = [
        b for b in _exchange_blocks(plan)
        if "text#" in b or "rendered#" in b
    ]
    assert len(with_text) == 2
    assert not any("rendered#" in b for b in with_text)
    assert "BroadcastNestedLoopJoin" not in plan
