"""Operator semantics tests: dedup family, similarity search, text ops,
multimodal plumbing — with planted duplicates/neighbors so the non-trivial
paths are exercised (the testdata documents are all unique)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_spark.operators import dedup, multimodal, relational, similarity


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a completely different document about spark and arrow batches here",
        "the quick brown fox jumps over the lazy dog near the river bank",  # dup of 0
        "the quick brown fox jumps over the lazy dog near the river bend",  # near-dup
        "unrelated text with its own tokens entirely disjoint vocabulary set",
    ]
    pdf = pd.DataFrame({"doc_id": range(5), "text": base})
    return spark.createDataFrame(pdf)


def test_exact_dedup_groups(docs):
    out = dedup.exact_dedup(docs).toPandas()
    dup_groups = out[out["n_dups"] > 1]
    assert len(dup_groups) == 1
    assert dup_groups.iloc[0]["keeper"] == 0
    assert dup_groups.iloc[0]["n_dups"] == 2


def test_minhash_identical_docs_equal_sigs(docs):
    sigs = dedup.minhash_signatures(docs).toPandas().set_index("doc_id")["sig"]
    assert list(sigs[0]) == list(sigs[2])  # exact dups → identical signature
    overlap_near = sum(a == b for a, b in zip(sigs[0], sigs[3]))
    overlap_far = sum(a == b for a, b in zip(sigs[0], sigs[4]))
    assert overlap_near > overlap_far  # near-dup shares more minima


def test_lsh_finds_planted_dup(docs):
    groups = dedup.lsh_candidate_groups(docs).toPandas()
    assert ((groups["min_doc"] == 0) & (groups["max_doc"] >= 2)).any()


def test_ngram_jaccard_bounds(spark, docs):
    a = docs.select(F.col("doc_id").alias("doc_id_a"), F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("doc_id_b"), F.col("text").alias("text_b"))
    pairs = a.crossJoin(b).filter(F.col("doc_id_a") < F.col("doc_id_b"))
    out = dedup.ngram_jaccard(pairs).toPandas()
    j = out.set_index(["doc_id_a", "doc_id_b"])["jaccard"]
    assert j[(0, 2)] == 1.0  # identical docs
    assert 0.0 < j[(0, 3)] < 1.0  # near-dup
    assert j[(1, 4)] == 0.0  # disjoint
    assert ((out["jaccard"] >= 0) & (out["jaccard"] <= 1)).all()


def test_simhash_near_dup_close(docs):
    sh = dedup.simhash(docs).toPandas().set_index("doc_id")["simhash"]
    def hamming(a, b):
        return bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1")
    assert hamming(sh[0], sh[2]) == 0
    assert hamming(sh[0], sh[3]) < hamming(sh[0], sh[4])


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(11)
    base = rng.normal(size=(30, 16))
    base[7] = base[0] + rng.normal(scale=0.01, size=16)  # planted neighbor
    pdf = pd.DataFrame(
        {"vec_id": range(30), "embedding": [r.astype("float32").tolist() for r in base]}
    )
    return spark.createDataFrame(pdf)


def test_cosine_topk_finds_planted_neighbor(vectors):
    out = similarity.cosine_topk(
        vectors, vectors.filter(F.col("vec_id") == 0), k=1
    ).toPandas()
    assert out.iloc[0]["neighbor_id"] == 7
    assert out.iloc[0]["cosine_r"] > 0.99


def test_lsh_bucketed_recall_vs_exact(vectors):
    exact = similarity.cosine_topk(
        vectors, vectors.filter(F.col("vec_id") < 5), k=3
    ).toPandas()
    approx = similarity.lsh_bucketed_topk(
        vectors, vectors.filter(F.col("vec_id") < 5), k=3, num_planes=4, dim=16
    ).toPandas()
    # approximate results must be a subset of scored pairs with sane ranks
    assert (approx["rank"] >= 1).all() and (approx["rank"] <= 3).all()
    # the planted near-identical neighbor lands in the same bucket
    got0 = approx[approx["q_id"] == 0]
    assert 7 in got0["neighbor_id"].tolist()
    # recall of bucket method over the 5 queries is nonzero and reported
    exact_pairs = set(map(tuple, exact[["q_id", "neighbor_id"]].values.tolist()))
    approx_pairs = set(map(tuple, approx[["q_id", "neighbor_id"]].values.tolist()))
    assert len(exact_pairs & approx_pairs) > 0


def test_multimodal_roundtrip(spark):
    pdf = pd.DataFrame(
        {
            "vec_id": [1, 2, 3],
            "payload": [
                multimodal.encode_fake_image(1, 4, 6),
                multimodal.encode_fake_image(2, 8, 2, channels=3),
                b"garbage",
            ],
        }
    )
    out = (
        multimodal.extract_metadata(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("vec_id")
    )
    assert out.loc[1, ["width", "height", "channels", "valid"]].tolist() == [4, 6, 1, True]
    assert out.loc[2, ["width", "height", "channels", "valid"]].tolist() == [8, 2, 3, True]
    assert out.loc[3, "valid"] == False  # noqa: E712
    assert out.loc[3, "fmt"] == "unknown"


def test_image_features_deterministic(spark):
    pdf = pd.DataFrame(
        {"vec_id": [5], "payload": [multimodal.encode_fake_image(5, 16, 16)]}
    )
    df = spark.createDataFrame(pdf)
    a = multimodal.image_features(df).toPandas()
    b = multimodal.image_features(df).toPandas()
    assert a.loc[0, "resized_h"] == 8
    assert a.loc[0, "mean_px"] == b.loc[0, "mean_px"]


def test_decode_image_stub_raises():
    payload = multimodal.encode_fake_image(1, 2, 2)
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(payload, fake=False)
    arr = multimodal.decode_image(payload, fake=True)
    assert arr.shape == (2, 2, 1)


def test_align_union_fill(spark):
    a = spark.createDataFrame(pd.DataFrame({"id": [1], "x": ["p"]}))
    b = spark.createDataFrame(pd.DataFrame({"id": [2], "y": ["q"]}))
    out = (
        relational.align_union([a, b])
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    assert out.loc[0, "y"] == ""  # fill
    assert out.loc[1, "x"] == ""
    assert set(out.columns) == {"id", "x", "y"}


def test_ann_lsh_recall_vs_exact(spark):
    """The approximate LSH-bucketed path must find a meaningful fraction of
    the exact top-k neighbors (quality floor, not equality — recall < 1 by
    construction; the exact scan is the oracle)."""
    from pyspark.sql import functions as F

    from ocr_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, qs, k=5).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in similarity.lsh_bucketed_topk(emb, qs, k=5).collect()
    }
    assert exact
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"LSH recall collapsed: {recall}"

def test_ivf_topk_planted_neighbor_and_recall(vectors):
    """IVF with a trained quantizer: the near-identical planted neighbor
    must land in the probed cells; recall vs exact is a quality floor."""
    exact = similarity.cosine_topk(
        vectors, vectors.filter(F.col("vec_id") < 5), k=3
    ).toPandas()
    approx = similarity.ivf_topk(
        vectors, vectors.filter(F.col("vec_id") < 5), k=3, nlist=4, nprobe=2
    ).toPandas()
    assert (approx["rank"] >= 1).all() and (approx["rank"] <= 3).all()
    got0 = approx[approx["q_id"] == 0]
    assert 7 in got0["neighbor_id"].tolist()  # ~identical vector, same cell
    exact_pairs = set(map(tuple, exact[["q_id", "neighbor_id"]].values.tolist()))
    approx_pairs = set(map(tuple, approx[["q_id", "neighbor_id"]].values.tolist()))
    assert len(exact_pairs & approx_pairs) / len(exact_pairs) >= 0.5


def test_ivf_recall_vs_exact_testdata(spark):
    """IVF recall on the sf0.001 embeddings table: above the floor at the
    default nprobe, and monotone in nprobe (the quality/cost knob — more
    probed cells, higher recall; measured 0.59 → 0.82 on this fixture)."""
    from ocr_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["q_id"], r["neighbor_id"]) for r in sim.cosine_topk(emb, qs, k=5).collect()
    }
    assert exact

    def recall(nprobe):
        approx = {
            (r["q_id"], r["neighbor_id"])
            for r in sim.ivf_topk(emb, qs, k=5, nlist=16, nprobe=nprobe).collect()
        }
        return len(exact & approx) / len(exact)

    r4, r8 = recall(4), recall(8)
    assert r4 >= 0.45, f"IVF recall collapsed at nprobe=4: {r4}"
    assert r8 >= r4 and r8 >= 0.7, f"nprobe knob broken: {r4} -> {r8}"


def test_ivf_deterministic_under_repartition(vectors):
    """Training sample, assignment, and probe order are md5/argmax-
    deterministic — output must not depend on input partitioning."""
    a = similarity.ivf_topk(
        vectors, vectors.filter(F.col("vec_id") < 3), k=3, nlist=4, nprobe=2
    ).toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True)
    b = similarity.ivf_topk(
        vectors.repartition(7), vectors.filter(F.col("vec_id") < 3), k=3, nlist=4, nprobe=2
    ).toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_conversation_assembly_matches_duckdb_oracle(spark):
    """The Arrow-map assembly exposed as a contract query must equal
    its DuckDB oracle on sf0.001 (including the ""-fill rows for odd docs
    that lack column n)."""
    import duckdb

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    got = entrymod.queries()["conversation_assembly"](spark, sf).toPandas()
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{sf}/documents.parquet')"
    )
    want = con.sql(entrymod.oracle_sql()["conversation_assembly"]).df()
    key = ["conv_id", "row_seq", "col_idx"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) and len(got) > 0
    for c in ["conv_id", "row_seq", "col_idx", "col_name"]:
        assert (got[c].astype(str).values == want[c].astype(str).values).all(), c
    gq = got["cell"].map(lambda v: "∅" if v is None or v != v else v)
    wq = want["cell"].map(lambda v: "∅" if v is None or v != v else v)
    assert (gq.values == wq.values).all()
    # the fill actually happened: some n cells are "" (odd docs in convs
    # where another page carried n)
    assert (got[(got["col_name"] == "n")]["cell"] == "").any()


def test_asof_join_semantics(spark):
    """Edge semantics of the composed as-of join: <= at equal ts, nulls
    for rows with no prior match, greatest-payload tiebreak among right
    rows sharing a ts, and invariance under input repartitioning."""
    import datetime as dt

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    views = spark.createDataFrame(
        [(100, 1, t(5)), (101, 1, t(2)), (102, 2, t(1)), (103, 3, t(9))],
        "view_id long, user_id long, ts timestamp",
    )
    clicks = spark.createDataFrame(
        [
            (7, 1, t(2), 1.5),   # ts == view 101's ts → included (<=)
            (8, 1, t(4), 2.5),   # latest before view 100
            (9, 2, t(3), 3.5),   # AFTER user 2's only view → excluded
            (10, 3, t(6), 4.0),  # same ts as click 11
            (11, 3, t(6), 5.0),  # tie → greatest event_id wins
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = (
        relational.asof_join(
            views, clicks, ["user_id"], "ts",
            {"event_id": "click_id", "value": "click_value"},
        )
        .toPandas()
        .set_index("view_id")
    )
    assert out.loc[100, "click_id"] == 8
    assert out.loc[101, "click_id"] == 7  # equal-ts click included
    assert pd.isna(out.loc[102, "click_id"])  # no prior click → null
    assert out.loc[103, "click_id"] == 11 and out.loc[103, "click_value"] == 5.0
    out2 = (
        relational.asof_join(
            views.repartition(5), clicks.repartition(3), ["user_id"], "ts",
            {"event_id": "click_id", "value": "click_value"},
        )
        .toPandas()
        .set_index("view_id")
        .sort_index()
    )
    pd.testing.assert_frame_equal(out.sort_index(), out2)


def test_range_join_window_agg_semantics(spark):
    """Bin-bucketed range join: inclusive window ends, empty-window anchors
    kept at 0, points in a different epoch bin than the anchor still match
    (the exploded bins cover the whole interval), no double counting."""
    import datetime as dt

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s)
    anchors = spark.createDataFrame(
        [(1, 10, t(0)), (2, 10, t(5000)), (3, 20, t(0))],
        "anchor_id long, user_id long, ts timestamp",
    )
    points = spark.createDataFrame(
        [
            (100, 10, t(0), 1.0),    # == window start, inclusive
            (101, 10, t(600), 2.0),  # == window end (600s), inclusive
            (102, 10, t(601), 4.0),  # 1s past the end → excluded
            (103, 10, t(599), 8.0),  # in a later 300s bin than the anchor
            (104, 20, t(9000), 16.0),# other user, outside anchor 3's window
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = (
        relational.range_join_window_agg(
            anchors, points, ["user_id"], "ts", 600, "value"
        )
        .toPandas()
        .set_index("anchor_id")
    )
    assert out.loc[1, "n_points"] == 3 and out.loc[1, "sum_value"] == 11.0
    assert out.loc[2, "n_points"] == 0 and out.loc[2, "sum_value"] == 0.0
    assert out.loc[3, "n_points"] == 0


def test_asof_join_randomized_vs_bruteforce(spark):
    """Dense seeded random events (few users, coarse timestamps → heavy
    key and tie collisions) — the composed as-of join must equal the
    brute-force per-row oracle: max-(ts, event_id) click at ts <= view
    ts."""
    import datetime as dt

    rng = np.random.default_rng(99)
    n = 300
    base = dt.datetime(2026, 1, 1)
    ev = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "user_id": rng.integers(0, 6, n).astype("int64"),
            "ts": [base + dt.timedelta(seconds=int(s)) for s in rng.integers(0, 120, n)],
            "value": np.round(rng.uniform(0, 10, n), 2),
            "kind": rng.choice(["view", "click"], n),
        }
    )
    views = ev[ev["kind"] == "view"]
    clicks = ev[ev["kind"] == "click"]
    got = (
        relational.asof_join(
            spark.createDataFrame(
                views.rename(columns={"event_id": "view_id"})[
                    ["view_id", "user_id", "ts"]
                ]
            ),
            spark.createDataFrame(clicks[["event_id", "user_id", "ts", "value"]]),
            ["user_id"],
            "ts",
            {"event_id": "click_id", "value": "click_value"},
        )
        .toPandas()
        .set_index("view_id")["click_id"]
        .sort_index()
    )
    want = {}
    for _, v in views.iterrows():
        c = clicks[(clicks["user_id"] == v["user_id"]) & (clicks["ts"] <= v["ts"])]
        want[v["event_id"]] = (
            None if c.empty else c.sort_values(["ts", "event_id"]).iloc[-1]["event_id"]
        )
    for vid, exp in want.items():
        g = got.loc[vid]
        assert (pd.isna(g) and exp is None) or g == exp, (vid, g, exp)


def test_range_join_randomized_vs_bruteforce(spark):
    """Same dense random events: bin-bucketed range join counts must equal
    the brute-force interval filter for every anchor, including windows
    spanning many bins and empty windows."""
    import datetime as dt

    rng = np.random.default_rng(7)
    n = 300
    base = dt.datetime(2026, 1, 1)
    ev = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "user_id": rng.integers(0, 6, n).astype("int64"),
            "ts": [base + dt.timedelta(seconds=int(s)) for s in rng.integers(0, 2000, n)],
            "value": np.round(rng.uniform(0, 10, n), 2),
            "kind": rng.choice(["error", "click"], n),
        }
    )
    anchors = ev[ev["kind"] == "error"]
    points = ev[ev["kind"] == "click"]
    got = (
        relational.range_join_window_agg(
            spark.createDataFrame(
                anchors.rename(columns={"event_id": "anchor_id"})[
                    ["anchor_id", "user_id", "ts"]
                ]
            ),
            spark.createDataFrame(points[["event_id", "user_id", "ts", "value"]]),
            ["user_id"],
            "ts",
            600,
            "value",
        )
        .toPandas()
        .set_index("anchor_id")["n_points"]
        .sort_index()
    )
    for _, a in anchors.iterrows():
        lo, hi = a["ts"], a["ts"] + dt.timedelta(seconds=600)
        exp = len(
            points[
                (points["user_id"] == a["user_id"])
                & (points["ts"] >= lo)
                & (points["ts"] <= hi)
            ]
        )
        assert got.loc[a["event_id"]] == exp, (a["event_id"], got.loc[a["event_id"]], exp)


def test_ivf_pretrained_centroids_reused(vectors):
    """A pre-trained quantizer passed in must produce the same result as
    in-call training (train-once-per-snapshot production shape)."""
    trained = similarity.ivf_train_centroids(vectors, nlist=4)
    a = similarity.ivf_topk(
        vectors, vectors.filter(F.col("vec_id") < 3), k=3, nlist=4, nprobe=2
    ).toPandas().sort_values(["q_id", "rank"], ignore_index=True)
    b = similarity.ivf_topk(
        vectors, vectors.filter(F.col("vec_id") < 3), k=3, nlist=4, nprobe=2,
        centroids=trained,
    ).toPandas().sort_values(["q_id", "rank"], ignore_index=True)
    pd.testing.assert_frame_equal(a, b)


def test_except_distinct_excludes_duplicated_rows(spark):
    # SQL EXCEPT semantics: a row appearing 3x in a and 1x in b must be
    # ABSENT (the old exceptAll(b.distinct()).distinct() kept it)
    a = spark.createDataFrame([(1,), (1,), (1,), (2,), (3,)], "x int")
    b = spark.createDataFrame([(1,), (4,)], "x int")
    out = sorted(r["x"] for r in relational.except_distinct(a, b).collect())
    assert out == [2, 3]


def test_vectorized_kernels_match_per_row_spec():
    # the batch kernels are pure numpy reformulations; this pins them to
    # the straightforward per-token definition (incl. NUL/unicode/empty)
    import hashlib

    from ocr_spark.operators.dedup import _minhash_batch, _simhash_batch, md5_number

    texts = ["the quick brown fox", "", "a a a b", "x", "\x00nul tok",
             "unicode é ü 中文 here", "single"]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})

    def spec_minhash(text, num_hashes=8, n=3):
        # signature unit = distinct word 3-gram shingles; a doc too
        # short to shingle signs its full text (unique per distinct text)
        toks = text.split(" ")
        shs = (
            {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
            if len(toks) >= n
            else {text}
        ) or {text}
        return [str(min(md5_number(f"{i}:{t}") for t in shs)) for i in range(num_hashes)]

    def spec_simhash(text):
        acc = [0] * 64
        for t in text.split(" ") if text else []:
            h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "little")
            for b in range(64):
                acc[b] += 1 if (h >> b) & 1 else -1
        v = sum(1 << b for b in range(64) if acc[b] > 0)
        return v - (1 << 64) if v >= (1 << 63) else v

    mh = next(_minhash_batch(8)(iter([pdf])))
    sh = next(_simhash_batch(iter([pdf])))
    for i, t in enumerate(texts):
        assert list(mh["sig"][i]) == spec_minhash(t)
        assert int(sh["simhash"][i]) == spec_simhash(t)


def test_simhash_banding_groups_near_dups(docs):
    # identical docs share every band; banding must bucket them together
    groups = dedup.simhash_candidate_groups(docs).toPandas()
    containing_dup = groups[(groups["min_doc"] == 0) & (groups["max_doc"] >= 2)]
    assert len(containing_dup) >= 4  # docs 0 and 2 identical → all 4 bands collide
    assert (groups["n_docs"] > 1).all()
    assert groups["band_idx"].isin(range(4)).all()
    assert groups["band_val"].between(0, 65535).all()


def test_duplicate_clusters_transitive_min_label(spark):
    # a~b and b~c near-dups (but a~c BELOW the verify threshold: J=0.273)
    # must still land in ONE cluster labeled min(id) via transitive
    # closure; unrelated docs stay singletons. Chain Jaccards sit just
    # over the 0.5 threshold (0.514 / 0.600), so the test runs the
    # banding at band_size=2 (8 bands of 2 — S-curve midpoint ≈ 0.35,
    # the right operating point for a 0.5 threshold with shallow bands);
    # the production default r=4 targets the high-precision regime and
    # would probabilistically skip threshold-grazing pairs by design.
    base = " ".join(f"w{i}" for i in range(1, 31))

    def mut(s, positions, suffix):
        t = s.split()
        for p in positions:
            t[p - 1] = t[p - 1] + suffix
        return " ".join(t)

    texts = {
        0: base,
        1: mut(base, [5, 15, 25], "q"),  # ~0, J=0.514
        2: mut(mut(base, [5, 15, 25], "q"), [1, 10, 20], "y"),  # ~1, J=0.600; vs 0: J=0.273
        3: "completely unrelated document with different tokens here now",
        4: "another disjoint vocabulary entirely its own island text block",
    }
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    out = (
        dedup.duplicate_clusters(df, threshold=0.5, band_size=2)
        .toPandas()
        .set_index("doc_id")["cluster_id"]
    )
    assert out[0] == out[1] == out[2] == 0  # transitive closure to min id
    assert out[3] == 3 and out[4] == 4  # singletons keep their own id


def test_duplicate_clusters_ids_near_int64_max(spark):
    # ids whose sum passes 2^63: the closure must not add ids up (an
    # ANSI-mode ARITHMETIC_OVERFLOW), only compare them
    big = 2**62
    text = "the same long sentence about parquet files and arrow batches"
    df = spark.createDataFrame(
        [(big, text), (big + 1, text), (big + 2, "an unrelated short note")],
        "doc_id long, text string",
    )
    out = {tuple(r) for r in dedup.duplicate_clusters(df).collect()}
    assert out == {(big, big), (big + 1, big), (big + 2, big + 2)}


def _union_find_labels(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # root = component min
    return {i: find(i) for i in ids}


def _components(spark, ids, pairs, id_type):
    from ocr_spark.operators import graph

    out = graph.connected_components(
        spark.createDataFrame(pairs, f"src {id_type}, dst {id_type}"),
        spark.createDataFrame([(i,) for i in ids], f"id {id_type}"),
    )
    rows = out.collect()
    assert len(rows) == len(ids)  # one row per distinct id
    return {r.id: r.label for r in rows}


def _graph_cases(id_strategy):
    from hypothesis import strategies as st

    # random edge lists over the drawn ids: self-loops, duplicate and
    # reversed pairs all occur; ids no pair touches stay isolated
    def with_pairs(ids):
        idx = st.integers(0, len(ids) - 1)
        edges = st.lists(st.tuples(idx, idx), max_size=2 * len(ids))
        return edges.map(lambda e: (ids, [(ids[a], ids[b]) for a, b in e]))

    return st.lists(id_strategy, unique=True, max_size=12).flatmap(
        lambda ids: with_pairs(ids) if ids else st.just((ids, []))
    )


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_connected_components_matches_union_find(spark, monkeypatch, id_type):
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from ocr_spark.operators import graph

    if id_type == "long":
        ids = st.integers(-(2**63), 2**63 - 1)
        a, b, c, d = 2**63 - 1, 2**63 - 2, -(2**63), 0
    else:
        ids = st.text(st.characters(blacklist_categories=("Cs",)), max_size=4)
        a, b, c, d = "b", "a", "", "zz"
    # pinned: the empty graph, and a self-loop, a duplicated and a
    # reversed pair beside an isolated id
    pinned = ([a, b, c, d], [(a, a), (a, b), (b, a), (a, b), (c, a)])

    @settings(max_examples=12, deadline=None)
    @example(([], []))
    @example(pinned)
    @given(_graph_cases(ids))
    def check(case):
        node_ids, pairs = case
        got = _components(spark, node_ids, pairs, id_type)
        assert got == _union_find_labels(node_ids, pairs), bound

    # 0: every round distributed; the default: the driver finishes
    # before round 1; 2: rounds run, then the driver may take over
    for bound in (0, graph.CC_DRIVER_EDGES, 2):
        monkeypatch.setattr(graph, "CC_DRIVER_EDGES", bound)
        check()


def test_connected_components_long_chain_converges(spark):
    # a randomly numbered 40-hop path: min-label propagation needs one
    # round per hop from the min id, far past any old round cap
    import random

    ids = list(range(1000, 1041))
    random.Random(7).shuffle(ids)
    pairs = list(zip(ids, ids[1:]))
    got = _components(spark, ids, pairs, "long")
    assert got == {i: 1000 for i in ids}


@pytest.mark.parametrize(
    "case",
    [test_connected_components_long_chain_converges,
     test_duplicate_clusters_ids_near_int64_max],
    ids=["long_chain", "near_int64_max"],
)
def test_connected_components_edge_cases_fully_distributed(spark, monkeypatch, case):
    from ocr_spark.operators import graph

    monkeypatch.setattr(graph, "CC_DRIVER_EDGES", 0)
    case(spark)


# a 4-node path, a triangle, a reversed duplicate, a self-loop and three
# isolated ids: 6 live edges before round 1.  Round 1 changes 4 labels
# and leaves 1 live edge (3-1); round 2 changes 1.  1 to 5 is 3 hops, so
# round 4 is the first that changes nothing.
_PATH_TRIANGLE = (
    list(range(10)),
    [(5, 3), (3, 8), (8, 1), (2, 7), (7, 9), (9, 2), (3, 5), (4, 4)],
)

# hub 100 joins leaves 10-19 and, through 50, id 0.  Round 1 changes
# only 100 and 50 but leaves 10 live edges ((0, 10) and 10 to 11-19), so
# a bound of 5 collects after it, overflows, and waits for the changed
# count to halve; rounds 2 and 3 change 10 labels each, round 4 none.
_HUB = (
    [0, 50, 100, *range(10, 20)],
    [(100, 50), (50, 0), *((100, i) for i in range(10, 20))],
)


@pytest.mark.parametrize(
    "graph_case, bound, log_line",
    [(_PATH_TRIANGLE, 0, "rounds=4 driver_edges=0"),
     (_PATH_TRIANGLE, 3, "rounds=2 driver_edges=1"),
     (_PATH_TRIANGLE, 5, "rounds=1 driver_edges=1"),
     (_PATH_TRIANGLE, 6, "rounds=0 driver_edges=6"),
     (_HUB, 5, "rounds=4 driver_edges=0")],
    ids=["path_triangle-0", "path_triangle-3", "path_triangle-5",
         "path_triangle-6", "hub-5"],
)
def test_connected_components_driver_handoff_at_bound(
    spark, monkeypatch, caplog, graph_case, bound, log_line
):
    import logging

    from ocr_spark.operators import graph

    monkeypatch.setattr(graph, "CC_DRIVER_EDGES", bound)
    caplog.set_level(logging.INFO, logger="ocr_spark")
    ids, pairs = graph_case
    assert _components(spark, ids, pairs, "long") == _union_find_labels(ids, pairs)
    assert [r.getMessage() for r in caplog.records if r.name == "ocr_spark"] == [
        f"connected_components {log_line}"
    ]


@pytest.mark.parametrize("bound", [0, None])
def test_connected_components_null_endpoint_is_no_edge(spark, monkeypatch, bound):
    from ocr_spark.operators import graph

    if bound is not None:
        monkeypatch.setattr(graph, "CC_DRIVER_EDGES", bound)
    got = _components(spark, [1, 2, 3], [(1, None), (1, 2)], "long")
    assert got == {1: 1, 2: 1, 3: 3}


def test_ann_recall_vs_exact_baseline(spark):
    # quality telemetry: approximate ANN must recover a healthy share of
    # the exact top-3 on the deterministic test corpus (low-cosine regime
    # — random-ish embeddings — so these floors are conservative)
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(emb, q, k=3).toPandas()
    e = exact.groupby("q_id")["neighbor_id"].apply(set)

    def recall(ap):
        a = ap.groupby("q_id")["neighbor_id"].apply(set)
        return sum(len(e[i] & a.get(i, set())) for i in e.index) / (3 * len(e))

    assert recall(similarity.lsh_bucketed_topk(emb, q, k=3).toPandas()) >= 0.5
    ivf_recall = recall(similarity.ivf_topk(emb, q, k=3).toPandas())
    assert ivf_recall >= 0.5
    # PQ re-rank prunes within the SAME probed cells, so with a deep
    # enough rerank cut it must recover (almost) everything IVF finds —
    # random low-cosine embeddings make the PQ approximation maximally
    # noisy, hence "almost" (measured: equality at rerank=64)
    pq_recall = recall(
        similarity.ivf_pq_topk(emb, q, k=3, rerank=64).toPandas()
    )
    assert pq_recall >= ivf_recall - 0.05
    assert recall(similarity.ivf_pq_topk(emb, q, k=3, rerank=32).toPandas()) >= 0.5


def test_deterministic_sample_invariant_under_partitioning(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(
        r["doc_id"]
        for r in relational.deterministic_sample(docs, "doc_id", "4").collect()
    )
    b = sorted(
        r["doc_id"]
        for r in relational.deterministic_sample(
            docs.repartition(13), "doc_id", "4"
        ).collect()
    )
    assert a == b and 0 < len(a) < docs.count()


def test_quantize_codes_bounded_and_reconstructable(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = similarity.quantize_embeddings(emb).toPandas()
    assert out["code"].between(0, 255).all()
    # reconstruction error of one vector bounded by half a quantization step
    row = emb.filter(F.col("vec_id") == 0).first()
    v = np.array(row["embedding"], dtype=np.float64)
    codes = out[out["vec_id"] == 0].sort_values("dim_idx")["code"].to_numpy()
    lo, hi = v.min(), v.max()
    recon = lo + codes * (hi - lo) / 255.0
    assert np.abs(recon - v).max() <= (hi - lo) / 255.0 / 2 + 1e-9


def test_short_docs_do_not_cross_collide_in_lsh(spark):
    # docs too short to shingle sign their FULL text: distinct short
    # docs never share a band bucket (a constant sentinel would bucket
    # every short doc in the corpus together — O(n^2) candidates that
    # all fail verify); identical short docs still group like exact dups
    texts = {0: "one", 1: "two", 2: "", 3: "one two", 4: "one", 5: "x y"}
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    groups = dedup.lsh_candidate_groups(df).toPandas()
    # the only multi-doc buckets are the identical pair (0, 4)
    assert (groups["min_doc"] == 0).all() and (groups["max_doc"] == 4).all()
    assert (groups["n_docs"] == 2).all()


def test_url_extract_domains_and_blocklist(spark):
    from ocr_spark.operators import textops

    df = spark.createDataFrame(
        [
            (1, "go to http://a.example.com/x and https://bad.tracker.net/y now"),
            (2, "no links here"),
            (3, "dup http://a.example.com/x then http://a.example.com/z"),
            (4, "see http://nottracker.net/a and http://tracker.net/b"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in textops.url_extract(df).collect()}
    assert rows[1]["n_urls"] == 2 and rows[1]["blocked"]
    assert rows[1]["domains"] == "a.example.com|bad.tracker.net"
    assert rows[2]["n_urls"] == 0 and rows[2]["domains"] == ""
    assert not rows[2]["blocked"]
    # distinct domains: two URLs, one domain, not blocked
    assert rows[3]["n_urls"] == 2 and rows[3]["domains"] == "a.example.com"
    assert not rows[3]["blocked"]
    # label-anchored suffix: the exact domain blocks, a registrable
    # domain that merely ENDS in the string must not
    assert rows[4]["blocked"]
    only_not = textops.url_extract(
        spark.createDataFrame(
            [(5, "x http://nottracker.net/a y")], "doc_id long, text string"
        )
    ).collect()[0]
    assert not only_not["blocked"]


def test_decontaminate_flags_ngram_overlap(spark):
    from ocr_spark.operators import textops

    bench_text = "alpha beta gamma delta epsilon zeta"  # 6 words -> 2 5-grams
    df = spark.createDataFrame(
        [
            (0, bench_text),  # the eval doc flags itself
            (1, "x " + bench_text + " y"),  # superstring: carries both grams
            (2, "one two three four five six"),  # disjoint -> clean
            (3, "too short"),  # <5 words -> no grams, clean
        ],
        "doc_id long, text string",
    )
    bench = df.filter("doc_id = 0")
    rows = {r["doc_id"]: r for r in textops.decontaminate(df, bench).collect()}
    assert rows[0]["contaminated"]
    assert rows[0]["n_grams"] == 2 and rows[0]["n_contaminated"] == 2
    assert rows[1]["contaminated"] and rows[1]["n_contaminated"] == 2
    assert rows[1]["n_grams"] == 4
    assert not rows[2]["contaminated"] and rows[2]["n_grams"] == 2
    assert rows[3]["n_grams"] == 0 and not rows[3]["contaminated"]


def test_pack_sequences_offsets_and_windows(spark):
    from ocr_spark.operators import textops

    df = spark.createDataFrame(
        [(0, "a b c"), (64, "d e"), (128, " ".join(["w"] * 510)), (1, "x")],
        "doc_id long, text string",
    )
    # docs 0, 64, 128 share shard 0 and pack in doc_id order
    rows = {
        r["doc_id"]: r
        for r in textops.pack_sequences(df, budget=512, shards=64).collect()
    }
    assert rows[0]["shard"] == 0 and rows[0]["start_off"] == 0
    assert rows[0]["seq_idx"] == 0 and rows[0]["pos_in_seq"] == 0
    assert rows[64]["start_off"] == 3 and rows[64]["pos_in_seq"] == 3
    # 3 + 2 + 510 = 515 -> doc 128 starts in sequence 0, a later doc
    # in shard 0 would start at offset 515 = sequence 1
    assert rows[128]["start_off"] == 5 and rows[128]["seq_idx"] == 0
    assert rows[1]["shard"] == 1 and rows[1]["start_off"] == 0


def test_domain_mix_upsamples_rare_domains(spark):
    import math

    from ocr_spark.operators import textops

    rows = [(i, "big") for i in range(90)] + [(90 + i, "rare") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r["source"]: r for r in textops.domain_mix(df).collect()}
    assert got["rare"]["n_domain"] == 10 and got["big"]["n_domain"] == 90
    # α=0.5: q ∝ √p -> rare domains upsample (>1), dominant shrink (<1)
    assert got["rare"]["mix_weight"] > 1.0 > got["big"]["mix_weight"]
    # replicate the micro-unit arithmetic exactly
    mu_big = math.floor(math.sqrt(90 / 100) * 1e6)
    mu_rare = math.floor(math.sqrt(10 / 100) * 1e6)
    z = mu_big + mu_rare
    assert got["rare"]["mix_weight"] == round((mu_rare / z) / (10 / 100), 6)
    assert got["big"]["mix_weight"] == round((mu_big / z) / (90 / 100), 6)
    # expected doc count is conserved up to rounding: Σ n_d * w_d ≈ N
    tot = 90 * got["big"]["mix_weight"] + 10 * got["rare"]["mix_weight"]
    assert abs(tot - 100) < 0.01


def test_line_dedup_drops_boilerplate_keeps_order(spark):
    from ocr_spark.operators import textops

    boiler = "subscribe now"
    rows = [
        (0, f"alpha one\n{boiler}\nalpha two"),
        (1, f"{boiler}\nbeta body"),
        (2, f"gamma body\n{boiler}"),
        (3, "delta only unique lines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textops.line_dedup(df).collect()}
    # boilerplate appears 3 times > max_count=2 -> dropped everywhere
    assert got[0]["clean_text"] == "alpha one\nalpha two"
    assert got[0]["n_lines"] == 3 and got[0]["n_dropped"] == 1
    assert got[1]["clean_text"] == "beta body"
    assert got[2]["clean_text"] == "gamma body"
    assert got[3]["clean_text"] == "delta only unique lines"
    assert got[3]["n_dropped"] == 0


def test_line_dedup_all_lines_dropped_yields_empty(spark):
    from ocr_spark.operators import textops

    rows = [(i, "same line") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = textops.line_dedup(df).collect()
    assert all(r["clean_text"] == "" and r["n_dropped"] == 1 for r in got)


def test_dup_span_detect_counts_shared_windows(spark):
    from ocr_spark.operators import textops

    base = " ".join(f"w{i}" for i in range(25))  # 25 unique tokens
    other = " ".join(f"x{i}" for i in range(30))
    rows = [(0, base), (1, base), (2, other), (3, "short text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textops.dup_span_detect(df).collect()}
    # 25 tokens -> one window at position 1 (next start 11 needs 30)
    assert got[0]["n_spans"] == 1 and got[0]["n_dup_spans"] == 1
    assert got[1]["is_duplicated"] and got[1]["dup_span_frac"] == 1.0
    # 30 tokens -> windows at 1 and 11, both unique
    assert got[2]["n_spans"] == 2 and got[2]["n_dup_spans"] == 0
    assert not got[2]["is_duplicated"]
    # < 20 tokens -> no windows at all
    assert got[3]["n_spans"] == 0 and got[3]["dup_span_frac"] == 0.0


def test_dup_span_detect_counts_within_doc_repeats(spark):
    from ocr_spark.operators import textops

    # 40 tokens = the same 10-token phrase four times: windows at 1, 11,
    # 21 are all the identical 20-token string -> every span duplicated
    phrase = " ".join(f"p{i}" for i in range(10))
    df = spark.createDataFrame(
        [(0, " ".join([phrase] * 4))], "doc_id long, text string"
    )
    r = textops.dup_span_detect(df).collect()[0]
    assert r["n_spans"] == 3 and r["n_dup_spans"] == 3
    assert r["dup_span_frac"] == 1.0


def test_semdedup_drops_lower_id_in_cell_neighbors(spark):
    import numpy as np

    from ocr_spark.operators import dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.001, 0.0, 0.0]),   # near-dup of 0, same cell
        (2, [0.7, 0.7, 0.0, 0.0]),     # same cell as 0, not a dup at 0.99
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.001]),   # near-dup of 3, same cell
        (5, [0.0, 0.0, 0.7, 0.7]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.array(
        [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]], dtype=np.float64
    )
    got = {
        r["vec_id"]: r
        for r in dedup.semdedup(df, threshold=0.99, centroids=cents).collect()
    }
    assert len(got) == 6
    assert got[0]["kept"] and not got[1]["kept"]       # lowest id kept
    assert got[2]["kept"]                              # similar, below t
    assert got[3]["kept"] and not got[4]["kept"]
    assert got[5]["kept"]
    # cells follow the supplied centroids
    assert got[0]["cell"] == got[1]["cell"] == got[2]["cell"]
    assert got[3]["cell"] == got[4]["cell"] == got[5]["cell"]
    assert got[0]["cell"] != got[3]["cell"]


def test_bloom_dedup_flags_later_copies_only(docs):
    out = dedup.bloom_dedup(docs).toPandas().set_index("doc_id")
    # doc 2 duplicates doc 0: all its bits were first set by doc 0
    assert bool(out.loc[2, "is_duplicate"])
    assert not bool(out.loc[0, "is_duplicate"])  # first copy survives
    # unique docs are not flagged (m=2^20 >> 4 bits/doc here)
    assert not out.loc[[1, 3, 4], "is_duplicate"].any()
    # every doc carries k=4 distinct positions (no in-doc collisions at
    # this m) and the duplicate's prior-bit count equals its bit count
    assert (out["n_bits"] == 4).all()
    assert out.loc[2, "n_prior_bits"] == out.loc[2, "n_bits"]
    assert out.loc[0, "n_prior_bits"] == 0


def test_bloom_dedup_matches_sequential_filter(docs):
    # the join formulation must equal the literal sequential Bloom
    # filter inserted in id order (flagged docs still set their bits)
    import hashlib

    pdf = docs.toPandas().sort_values("doc_id")
    m, k = dedup.BLOOM_BITS, dedup.BLOOM_HASHES
    bits: set[int] = set()
    expect = {}
    for _, row in pdf.iterrows():
        pos = {
            int.from_bytes(
                hashlib.md5(f"{i}:{row['text']}".encode()).digest()[:3],
                "little",
            )
            % m
            for i in range(k)
        }
        expect[row["doc_id"]] = all(p in bits for p in pos)
        bits |= pos
    got = dedup.bloom_dedup(docs).toPandas().set_index("doc_id")["is_duplicate"]
    for doc_id, flagged in expect.items():
        assert bool(got.loc[doc_id]) == flagged


def test_bloom_dedup_rejects_bad_m(docs):
    with pytest.raises(ValueError, match="divide"):
        dedup.bloom_dedup(docs, m=1000)


def _py_ahash(img):
    """Pure-python replay of ahash_bits (hex + bands)."""
    h, w = img.shape[0], img.shape[1]
    c = 1 if img.ndim == 2 else img.shape[2]
    px = img.reshape(h, w, c).astype(int)
    gray = [[sum(px[y][x]) // c for x in range(w)] for y in range(h)]
    cells = []
    for y in range(8):
        for x in range(8):
            y0, y1 = y * h // 8, (y + 1) * h // 8
            x0, x1 = x * w // 8, (x + 1) * w // 8
            blk = [gray[yy][xx] for yy in range(y0, y1) for xx in range(x0, x1)]
            cells.append(sum(blk) // len(blk))
    mean = sum(cells) // 64
    bits = [1 if v > mean else 0 for v in cells]
    hexstr = "".join(
        "0123456789abcdef"[bits[4 * j] * 8 + bits[4 * j + 1] * 4
                           + bits[4 * j + 2] * 2 + bits[4 * j + 3]]
        for j in range(16)
    )
    bands = [int(hexstr[4 * k : 4 * k + 4], 16) for k in range(4)]
    return hexstr, bands


def test_image_ahash_matches_pure_python_fake_and_real_png(spark):
    import numpy as np
    from ocr_spark.kernels.png import encode_png

    fake = multimodal.encode_fake_image(11, 8, 8)
    grad = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    png = encode_png(grad)
    pdf = pd.DataFrame({"vec_id": [0, 1], "payload": [fake, png]})
    out = (
        multimodal.image_ahash(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("vec_id")
    )
    for vid, img in ((0, multimodal.decode_image(fake, fake=True)), (1, grad)):
        hexstr, bands = _py_ahash(img)
        assert out.loc[vid, "ahash_hex"] == hexstr
        assert [out.loc[vid, f"band{k}"] for k in range(4)] == bands


def test_image_ahash_stable_under_one_pixel_edit(spark):
    base = multimodal.encode_fake_image(7, 8, 8)
    pert = bytearray(base)
    pert[9] = (pert[9] + 40) % 256
    pdf = pd.DataFrame({"vec_id": [0, 1], "payload": [base, bytes(pert)]})
    out = (
        multimodal.image_ahash(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("vec_id")
    )
    ham = sum(
        bin(out.loc[0, f"band{k}"] ^ out.loc[1, f"band{k}"]).count("1")
        for k in range(4)
    )
    assert ham <= 3  # one-byte edit moves at most a few threshold bits


def test_image_ahash_candidates_pigeonhole_and_filter(spark):
    # hand-built signatures: 0/1 differ in exactly 3 bits spread over 3
    # bands (must pair — pigeonhole leaves band3 intact); 2 differs from
    # 0 in 8 bits of one band (bucketed by the other 3 bands BUT cut by
    # the hamming filter); 3 shares no band with anyone
    rows = [
        (0, "x", 0x0001, 0x0002, 0x0004, 0x1111),
        (1, "x", 0x0000, 0x0000, 0x0000, 0x1111),
        (2, "x", 0x00FF, 0x0002, 0x0004, 0x1111),
        (3, "x", 0xAAAA, 0xBBBB, 0xCCCC, 0xDDDD),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["vec_id", "ahash_hex", "band0", "band1", "band2",
                           "band3"]
        )
    )
    out = multimodal.image_ahash_candidates(df).toPandas()
    got = {(r.keeper, r.dup_id, r.hamming) for r in out.itertuples()}
    assert (0, 1, 3) in got
    assert all(k != 3 and d != 3 for k, d, _ in got)
    assert all(h <= 3 for _, _, h in got)
    assert (0, 2, 7) not in got and not [p for p in got if p[0] == 0 and p[1] == 2]


def test_embedding_outliers_matches_pure_python(spark):
    import math

    from ocr_spark.operators import similarity

    vecs = {
        0: ([1.0, 0.0], 0),
        1: ([0.9, 0.1], 0),
        2: ([-1.0, -0.05], 0),   # opposes its group centroid
        3: ([0.0, 0.5], 1),      # singleton group -> cosine 1.0
    }
    pdf = pd.DataFrame(
        {
            "vec_id": list(vecs),
            "embedding": [v for v, _ in vecs.values()],
            "label": [l for _, l in vecs.values()],
        }
    )
    out = (
        similarity.embedding_outliers(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("vec_id")
    )
    qm = {k: [math.floor(x * 1e6 + 0.5) for x in v] for k, (v, _) in vecs.items()}
    cents = {}
    for k, (_, l) in vecs.items():
        cents.setdefault(l, [0, 0])
        for i, x in enumerate(qm[k]):
            cents[l][i] += x
    for k, (_, l) in vecs.items():
        c = cents[l]
        dot = sum(a * b for a, b in zip(qm[k], c))
        want = round(
            dot / (math.sqrt(sum(a * a for a in qm[k])) * math.sqrt(sum(b * b for b in c))),
            4,
        )
        assert out.loc[k, "cos_centroid"] == want
        assert out.loc[k, "is_outlier"] == (want < 0.0)
    assert out.loc[3, "cos_centroid"] == 1.0
    assert bool(out.loc[2, "is_outlier"])


def test_bitext_mine_matches_pure_python(spark):
    import math

    from ocr_spark.operators import similarity

    src = {0: [1.0, 0.03], 2: [0.88, 0.12], 4: [0.02, 1.0]}
    tgt = {1: [0.97, 0.06], 3: [0.55, 0.52], 5: [0.04, 0.99]}
    mk = lambda d: spark.createDataFrame(  # noqa: E731
        pd.DataFrame({"vec_id": list(d), "embedding": list(d.values())})
    )
    k = 2
    out = (
        similarity.bitext_mine(mk(src), mk(src), mk(tgt), k=k)
        .toPandas()
        .set_index("src_id")
    )

    def cos_e4(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return round(
            dot
            / (
                math.sqrt(sum(x * x for x in a))
                * math.sqrt(sum(y * y for y in b))
            )
            * 10_000
        )

    for sid, sv in src.items():
        fwd = sorted(
            ((cos_e4(sv, tv), -tid) for tid, tv in tgt.items()),
            reverse=True,
        )[:k]
        best_cos, best_tid = fwd[0][0], -fwd[0][1]
        sum_fwd = sum(c for c, _ in fwd)
        bwd = sorted(
            ((cos_e4(tgt[best_tid], v), -i) for i, v in src.items()),
            reverse=True,
        )[:k]
        sum_bwd = sum(c for c, _ in bwd)
        margin = best_cos * 2 * k * 10_000 // (sum_fwd + sum_bwd)
        row = out.loc[sid]
        assert row["tgt_id"] == best_tid
        assert row["cos_e4"] == best_cos
        assert row["margin_e4"] == margin
        assert bool(row["accepted"]) == (margin >= 10_000)
    # the aligned pairs beat their neighborhoods; the hub (3) is nobody's
    # accepted match
    assert out.loc[0, "tgt_id"] == 1 and bool(out.loc[0, "accepted"])
    assert out.loc[4, "tgt_id"] == 5 and bool(out.loc[4, "accepted"])


def test_bitext_mine_drops_nonpositive_cosine(spark):
    from ocr_spark.operators import similarity

    src = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0], "embedding": [[1.0, 0.0]]})
    )
    tgt = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1], "embedding": [[-1.0, 0.0]]})
    )
    out = similarity.bitext_mine(src, src, tgt, k=2).toPandas()
    assert len(out) == 0


def test_embedding_outliers_zero_vector_guard(spark):
    from ocr_spark.operators import similarity

    pdf = pd.DataFrame(
        {"vec_id": [0], "embedding": [[0.0, 0.0]], "label": [0]}
    )
    out = similarity.embedding_outliers(spark.createDataFrame(pdf)).toPandas()
    assert out.loc[0, "cos_centroid"] == 0.0
    assert not out.loc[0, "is_outlier"]


def test_image_ahash_skips_bad_payloads(spark):
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3],
            "payload": [
                multimodal.encode_fake_image(0, 8, 8),
                b"garbage not an image",
                multimodal.encode_fake_image(2, 4, 4),  # smaller than grid
                multimodal.encode_fake_image(3, 8, 8),
            ],
        }
    )
    out = multimodal.image_ahash(spark.createDataFrame(pdf)).toPandas()
    assert sorted(out.vec_id) == [0, 3]


def test_embedding_dedup_lsh_recall_vs_uncapped_exact(spark):
    """Recall-baseline evidence for the embedding near-dup LSH (r4 VERDICT
    item 4): the registered contract query caps the all-pairs exact scan
    to vec_id < 256, so the UNCAPPED exact-vs-LSH comparison lives here.
    The LSH form must recover every exact pair it buckets together at the
    0.35 threshold with a meaningful overall recall floor."""
    from ocr_spark.operators import dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["keeper"], r["dup_id"])
        for r in dedup.embedding_cosine_pairs(emb).collect()
    }
    approx = {
        (r["keeper"], r["dup_id"])
        for r in dedup.embedding_cosine_dedup_lsh(emb).collect()
    }
    assert exact, "fixture produced no exact pairs — threshold drifted"
    # LSH verify stage scores real cosines, so no false positives
    assert approx <= exact
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.3, f"embedding-dedup LSH recall collapsed: {recall}"


def test_event_funnel_ordering_and_ties(spark):
    from datetime import datetime

    from ocr_spark.operators import relational

    T = datetime(2024, 1, 1)
    T2 = datetime(2024, 1, 2)
    T3 = datetime(2024, 1, 3)
    rows = [
        # user 1: full funnel, tie at first step resolved by event_id
        (10, T, 1, "view"), (11, T, 1, "view"),
        (12, T2, 1, "click"), (13, T3, 1, "purchase"),
        # user 2: click BEFORE the first view must not count
        (20, T2, 2, "view"), (21, T, 2, "click"),
        # user 3: same-ts click with larger id counts (strictly after)
        (30, T, 3, "view"), (31, T, 3, "click"),
        # user 4: same-ts click with SMALLER id does not count
        (41, T, 4, "view"), (40, T, 4, "click"),
        # user 5: never views -> excluded
        (50, T, 5, "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {
        r.user_id: r for r in relational.event_funnel(df).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1].view_id == 10 and out[1].click_id == 12
    assert out[1].purchase_id == 13 and out[1].reached_purchase
    assert out[2].click_id == -1 and not out[2].reached_click
    assert out[3].click_id == 31 and out[3].reached_click
    assert out[4].click_id == -1 and not out[4].reached_click


def test_profile_table_exact_counts(spark):
    from ocr_spark.operators import relational

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (None, "b")],
        "k long, v string",
    )
    out = {
        r.column_name: r
        for r in relational.profile_table(df, ["k", "v"]).collect()
    }
    assert out["k"].n_rows == 4 and out["v"].n_rows == 4
    assert out["k"].n_null == 1 and out["k"].n_distinct == 3
    assert out["v"].n_null == 1 and out["v"].n_distinct == 2


def test_cross_snapshot_fuzzy_catches_edited_reposts(spark):
    import pandas as pd

    from ocr_spark.operators import dedup

    body = (
        "the quick brown fox jumps over the lazy dog and then the dog"
        " chases the fox back across the wide green field at dusk"
    )
    cur = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    body,
                    "completely different text about spark shuffles and"
                    " partitions and exchanges and codegen stages here",
                    body + " trailing edit",  # near-dup of prior 100
                ],
            }
        )
    )
    prior = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "text": [body]})
    )
    out = {
        r.doc_id: r
        for r in dedup.cross_snapshot_fuzzy(cur, prior).collect()
    }
    assert set(out) == {0, 1, 2}
    # identical text: every band collides
    assert out[0].fuzzy_in_prior and out[0].min_prior_id == 100
    assert out[0].n_prior_candidates == 1
    # unrelated text: no band collides
    assert not out[1].fuzzy_in_prior and out[1].min_prior_id == -1
    # small tail edit: most shingles shared, at least one band collides
    assert out[2].fuzzy_in_prior and out[2].min_prior_id == 100


def test_zorder_layout_is_morton_code(spark):
    from ocr_spark.operators import relational

    def morton(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    rows = [(0, 0), (1, 65535), (2, 1), (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "doc_id long, x long, y long",
    )
    out = {
        r.doc_id: r
        for r in relational.zorder_layout(df, "x", "y").collect()
    }
    for i, (a, b) in enumerate(rows):
        assert out[i].zval == morton(a, b), (a, b)
        assert out[i].zfile == morton(a, b) >> 20
    # locality: near in both dims -> near z; far in one dim -> far z
    assert abs(morton(100, 100) - morton(101, 101)) < abs(
        morton(100, 100) - morton(100, 60000)
    )


def test_event_retention_cohort_math(spark):
    from datetime import datetime

    from ocr_spark.operators import relational

    D = lambda d, h=0: datetime(2024, 1, d, h)  # noqa: E731
    rows = [
        # cohort day 1: users 1,2 first seen on the 1st
        (0, D(1), 1, "view"), (1, D(1, 5), 1, "click"),  # same-day dup
        (2, D(1), 2, "view"),
        (3, D(2), 1, "view"),            # user 1 back on day offset 1
        (4, D(3), 1, "view"), (5, D(3), 2, "view"),  # both back offset 2
        # cohort day 2: user 3
        (6, D(2), 3, "signup"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {
        (str(r.cohort_day), r.day_offset): r
        for r in relational.event_retention(df).collect()
    }
    c1 = "2024-01-01"
    assert out[(c1, 0)].n_active == 2 and out[(c1, 0)].cohort_size == 2
    assert out[(c1, 0)].retention_micro == 1000000
    assert out[(c1, 1)].n_active == 1
    assert out[(c1, 1)].retention_micro == 500000
    assert out[(c1, 2)].n_active == 2
    assert out[("2024-01-02", 0)].cohort_size == 1
    assert ("2024-01-02", 1) not in out


def test_sessionize_gap_boundaries(spark):
    from datetime import datetime, timedelta

    import pandas as pd

    from ocr_spark.operators import relational

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: three events inside one session (gaps 10 min / 29:59),
        # then a 30:01 gap -> second session
        (1, 10, t0, "view"),
        (1, 11, t0 + timedelta(minutes=10), "click"),
        (1, 12, t0 + timedelta(minutes=10, seconds=1799), "view"),
        (1, 13, t0 + timedelta(minutes=10, seconds=1799 + 1801), "buy"),
        # user 2: a single event
        (2, 20, t0, "view"),
        # user 3: two events EXACTLY 30:00 apart -> same session
        # (boundary is strict: gap must EXCEED gap_sec)
        (3, 30, t0, "view"),
        (3, 31, t0 + timedelta(seconds=1800), "view"),
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "event_type"])
    out = (
        relational.sessionize(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values(["user_id", "session_seq"])
        .reset_index(drop=True)
    )
    got = [
        (r.user_id, r.session_seq, r.n_events, r.duration_us, r.n_types)
        for r in out.itertuples()
    ]
    assert got == [
        (1, 1, 3, (600 + 1799) * 1_000_000, 2),
        (1, 2, 1, 0, 1),
        (2, 1, 1, 0, 1),
        (3, 1, 2, 1800 * 1_000_000, 1),
    ]


def test_ohlc_bars_open_close_extremes(spark):
    from datetime import datetime

    import pandas as pd

    from ocr_spark.operators import relational

    rows = [
        # one hour bucket, one type: open=id 1 (earliest), close=id 4
        (1, datetime(2024, 1, 1, 10, 0, 5), "view", 3.0),
        (2, datetime(2024, 1, 1, 10, 20, 0), "view", 9.5),
        (3, datetime(2024, 1, 1, 10, 40, 0), "view", 1.25),
        (4, datetime(2024, 1, 1, 10, 59, 59), "view", 4.0),
        # same instant tie -> event_id breaks it
        (6, datetime(2024, 1, 1, 11, 0, 0), "view", 7.0),
        (5, datetime(2024, 1, 1, 11, 0, 0), "view", 2.0),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "event_type", "value"])
    out = (
        relational.ohlc_bars(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("bar")
        .reset_index(drop=True)
    )
    assert len(out) == 2
    b0, b1 = out.iloc[0], out.iloc[1]
    assert (b0.n_events, b0.open_event_id, b0.close_event_id) == (4, 1, 4)
    assert (b0.lo, b0.hi) == (1.25, 9.5)
    assert (b1.open_event_id, b1.close_event_id) == (5, 6)
    assert b1.bar == b0.bar + 1


def test_hard_negatives_excludes_exact_dups_and_ranks(docs):
    # brute-force the same contract: band-mates minus same-digest pairs,
    # top-2 per anchor by the md5 pair hash (cand id tiebreak)
    import hashlib

    pairs = dedup.lsh_candidate_pairs(docs).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    dg = {i: hashlib.md5(t.encode()).hexdigest() for i, t in texts.items()}
    directed = {}
    for r in pairs:
        for a, c in ((r["a"], r["b"]), (r["b"], r["a"])):
            if dg[a] != dg[c]:
                directed.setdefault(a, []).append(c)
    expect = {}
    for a, cs in directed.items():
        cs = sorted(
            cs,
            key=lambda c: (
                hashlib.md5(f"hn:{a}:{c}".encode()).hexdigest(),
                c,
            ),
        )
        expect[a] = (cs[0], cs[1] if len(cs) > 1 else None)
    got = {
        r["doc_id"]: (r["hard1"], r["hard2"])
        for r in dedup.hard_negatives(docs).collect()
    }
    assert expect and got == expect
    # the exact-dup pair (0, 2) must never surface as a hard negative
    for a, other in ((0, 2), (2, 0)):
        assert other not in got.get(a, ())


def test_containment_flags_inclusion_jaccard_misses(spark):
    # doc 1 is doc 0 verbatim plus a long suffix: containment of 0 in 1
    # is exactly 1.0 while Jaccard is well below a dedup threshold —
    # the inclusion case the asymmetric metric exists for
    # base long enough that its shingles dominate the min-hash lanes, so
    # the contained pair still collides in a band despite the suffix
    a = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
        " kilo lima mike november oscar papa quebec romeo sierra tango"
        " uniform victor whiskey xray yankee zulu one two three four"
        " five six seven eight nine ten eleven twelve"
    )
    b = a + " and then a very long appendix of entirely new words follows here now"
    pdf = pd.DataFrame({"doc_id": [0, 1], "text": [a, b]})
    docs = spark.createDataFrame(pdf)
    out = {(r["a"], r["b"]): r["containment"]
           for r in dedup.containment_pairs(docs).collect()}
    assert out == {(0, 1): 1.0}
    jac = dedup.verified_dup_pairs(docs, threshold=0.0).collect()
    assert all(r["jaccard"] < 0.8 for r in jac)  # Jaccard under-scores it


def test_rrf_fuse_hand_values(spark):
    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        ["query_id", "doc_id", "rank"],
    )
    dense = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2)],
        ["query_id", "doc_id", "rank"],
    )
    out = {
        r.doc_id: r
        for r in similarity.rrf_fuse([("lex", lex), ("dense", dense)], k=10).collect()
    }
    # doc 11 appears in both legs: 1e9//62 + 1e9//61
    assert out[11].rrf_nano == 1_000_000_000 // 62 + 1_000_000_000 // 61
    assert (out[11].lex_rank, out[11].dense_rank) == (2, 1)
    assert out[11].fused_rank == 1
    # doc 10 only lexical at rank 1
    assert out[10].rrf_nano == 1_000_000_000 // 61
    assert out[10].dense_rank is None and out[10].fused_rank == 2
    # tie between doc 12 (lex rank 3) and doc 13 (dense... ) no tie:
    # 1e9//63 < 1e9//62, so doc 13 ranks 3rd, doc 12 4th
    assert out[13].fused_rank == 3 and out[12].fused_rank == 4


def test_mmr_rerank_prefers_diverse_over_redundant(spark):
    cand = spark.createDataFrame(
        [
            (0, 1, 1, ["a", "b", "c"]),
            (0, 2, 2, ["a", "b", "c"]),  # exact dup of doc 1's tokens
            (0, 3, 3, ["x", "y", "z"]),  # disjoint
        ],
        ["query_id", "doc_id", "rank", "toks"],
    )
    out = {
        r.mmr_rank: r
        for r in similarity.mmr_rerank(cand, k=2, k_in=3).collect()
    }
    # first pick is pure relevance
    assert out[1].doc_id == 1 and out[1].rel_nano == 1_000_000_000
    assert out[1].max_sim_nano == 0
    # second pick: doc 2 is redundant (sim 1e9 -> score negative);
    # the disjoint doc 3 wins despite lower relevance
    assert out[2].doc_id == 3
    assert out[2].rel_nano == 1_000_000_000 * 1 // 3
    assert out[2].max_sim_nano == 0
    assert out[2].mmr_score_nano == out[2].rel_nano
