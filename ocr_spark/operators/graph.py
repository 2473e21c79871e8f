"""Link-graph operators over the domain graph a web corpus induces —
the crawl-frontier / source-weighting side of a training-data pipeline
(PageRank-weighted domain sampling is the classic quality prior for
web text; see Page et al. 1999, and Common Crawl's host-level ranks).

PageRank and HITS are integer micro-unit arithmetic with a FIXED
iteration count, so the DuckDB oracle replays the exact values by
textually unrolling the same iterations (the k-means / IVF precedent in
operators/similarity.py). :func:`connected_components` instead runs to
its fixpoint; its oracles are recursive CTEs.

Reference parity note: the reference repo (a single-document OCR
script) has no corpus-level graph pass; this is builder-brief breadth
for the 100 TB training-data pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: PageRank damping factor as an exact rational: 0.85 = DAMP_NUM/DAMP_DEN.
DAMP_NUM = 17
DAMP_DEN = 20

#: Teleport term in micro-units: (1 - 0.85) * 1e6.
TELEPORT_MICRO = 150_000

#: Fixed power-iteration count. Contract — the oracle unrolls exactly
#: this many iterations.
PAGERANK_ITERS = 3


def pagerank(edges: DataFrame, iters: int = PAGERANK_ITERS) -> DataFrame:
    """Fixed-iteration integer PageRank over a (src, dst) edge list.

    Semantics (the deterministic micro-unit variant): ranks start at
    1e6 per node; each iteration every node sends
    ``(17 * rank) // (20 * out_degree)`` along each distinct out-edge
    and receives ``150000 + Σ incoming`` — i.e. damping 0.85 and
    teleport 0.15 in exact integer arithmetic, so no float summation
    order can diverge between engines. Dangling nodes (no out-edges)
    simply keep the teleport term, the standard simplified variant.

    Scale shape: edges are deduped and degree-annotated once; each
    iteration is one join of the rank table on ``src`` (both sides
    keyed on node — AQE picks shuffle or broadcast by the actual node
    count) and one map-side-combining aggregation on ``dst``. The rank
    table is node-bounded (domains, not documents); document text never
    enters the graph. Iterations are a CONSTANT, so the lineage is a
    fixed-depth plan, not a loop over the corpus."""
    e = edges.select("src", "dst").distinct()
    deg = e.groupBy("src").agg(F.count("*").alias("__deg"))
    ed = e.join(deg, "src")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    r = nodes.select("node", F.lit(1_000_000).cast("long").alias("rank_micro"))
    for _ in range(iters):
        contrib = ed.join(
            r.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"),
            F.expr(
                f"div({DAMP_NUM} * rank_micro, {DAMP_DEN} * __deg)"
            ).alias("__c"),
        )
        sums = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        r = nodes.join(sums, "node", "left").select(
            "node",
            (
                F.lit(TELEPORT_MICRO) + F.coalesce(F.col("__s"), F.lit(0))
            )
            .cast("long")
            .alias("rank_micro"),
        )
    return r


def oracle_pagerank_sql(
    edges_cte: str, iters: int = PAGERANK_ITERS
) -> str:
    """DuckDB replay: given a CTE body named ``e`` (columns src, dst,
    already distinct), unroll ``iters`` power iterations and select the
    final (node, rank_micro). Mirrors :func:`pagerank` exactly —
    BIGINT ``//`` matches Spark's ``div``."""
    parts = [
        f"WITH e AS ({edges_cte}),",
        " deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),",
        " nodes AS (SELECT src AS node FROM e"
        "  UNION SELECT dst FROM e),",
        " r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)",
    ]
    for k in range(1, iters + 1):
        # the incoming-mass subquery is INNER-joined internally and
        # LEFT-joined to nodes, so a node with no in-edges keeps its
        # row and gets the bare teleport term
        parts.append(
            f", r{k} AS (SELECT n.node, CAST({TELEPORT_MICRO} +"
            f" COALESCE(SUM(x.c), 0) AS BIGINT) AS r"
            f" FROM nodes n LEFT JOIN"
            f" (SELECT e.dst, ({DAMP_NUM} * p.r) //"
            f" ({DAMP_DEN} * deg.deg) AS c"
            f"  FROM e JOIN deg ON deg.src = e.src"
            f"  JOIN r{k - 1} p ON p.node = e.src) x"
            f" ON x.dst = n.node GROUP BY n.node)"
        )
    parts.append(
        f" SELECT node, r AS rank_micro FROM r{iters}"
    )
    return "".join(parts)


#: HITS fixed iteration count and per-iteration normalization scale.
#: Contract — the oracle unrolls exactly this many iterations.
HITS_ITERS = 2
HITS_SCALE = 1_000_000


def hits(edges: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """Fixed-iteration integer HITS (Kleinberg 1999) over a (src, dst)
    edge list — the hub/authority complement to :func:`pagerank` for
    source weighting (a domain that links to many authorities is a good
    crawl frontier; a domain many hubs point at is a quality prior).

    Deterministic micro-unit variant: hubs start at HITS_SCALE; each
    iteration computes raw authority = Σ incoming hub, normalizes by
    the corpus-wide raw sum as ``(raw * SCALE) // Σraw`` (exact integer,
    L1-style), then raw hub = Σ outgoing NEW authority, normalized the
    same way — so no float summation order can diverge between engines.
    Requires a non-empty edge set (the normalizing sums are positive).

    Scale shape: per iteration, one join of the node-bounded score
    table on src (then dst) and one map-side-combining aggregation; the
    normalizer is a broadcast 1-row aggregate, never a driver collect.
    The raw×SCALE product bounds node count at ~9e12 before BIGINT
    overflow — at larger graphs drop HITS_SCALE a decade."""
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    h = nodes.select(
        "node", F.lit(HITS_SCALE).cast("long").alias("hub_micro")
    )
    a = None
    for _ in range(iters):
        araw = (
            e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("hub_micro").alias("__ar"))
            .withColumnRenamed("dst", "node")
        )
        asum = araw.agg(F.sum("__ar").alias("__as"))
        a = (
            nodes.join(araw, "node", "left")
            .crossJoin(F.broadcast(asum))
            .select(
                "node",
                F.expr(
                    f"div(coalesce(__ar, 0L) * {HITS_SCALE}, __as)"
                )
                .cast("long")
                .alias("auth_micro"),
            )
        )
        hraw = (
            e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("auth_micro").alias("__hr"))
            .withColumnRenamed("src", "node")
        )
        hsum = hraw.agg(F.sum("__hr").alias("__hs"))
        h = (
            nodes.join(hraw, "node", "left")
            .crossJoin(F.broadcast(hsum))
            .select(
                "node",
                F.expr(
                    f"div(coalesce(__hr, 0L) * {HITS_SCALE}, __hs)"
                )
                .cast("long")
                .alias("hub_micro"),
            )
        )
    return a.join(h, "node")


def oracle_hits_sql(edges_cte: str, iters: int = HITS_ITERS) -> str:
    """DuckDB replay of :func:`hits`: unrolled MATERIALIZED stages (the
    CTE-inlining trap — every score table is multi-referenced); HUGEINT
    ``//`` matches Spark's ``div`` on non-negative operands."""
    parts = [
        f"WITH e AS ({edges_cte}),",
        " nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        f" h0 AS (SELECT node, CAST({HITS_SCALE} AS BIGINT) AS h"
        "  FROM nodes)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f", ar{k} AS (SELECT e.dst AS node, SUM(p.h) AS ar"
            f"  FROM e JOIN h{k - 1} p ON p.node = e.src GROUP BY e.dst)"
            f", as{k} AS MATERIALIZED (SELECT SUM(ar) AS s FROM ar{k})"
            f", a{k} AS MATERIALIZED (SELECT n.node,"
            f"  CAST((COALESCE(x.ar, 0) * {HITS_SCALE}) // t.s AS BIGINT)"
            f"  AS a FROM nodes n LEFT JOIN ar{k} x ON x.node = n.node"
            f"  CROSS JOIN as{k} t)"
            f", hr{k} AS (SELECT e.src AS node, SUM(p.a) AS hr"
            f"  FROM e JOIN a{k} p ON p.node = e.dst GROUP BY e.src)"
            f", hs{k} AS MATERIALIZED (SELECT SUM(hr) AS s FROM hr{k})"
            f", h{k} AS MATERIALIZED (SELECT n.node,"
            f"  CAST((COALESCE(x.hr, 0) * {HITS_SCALE}) // t.s AS BIGINT)"
            f"  AS h FROM nodes n LEFT JOIN hr{k} x ON x.node = n.node"
            f"  CROSS JOIN hs{k} t)"
        )
    parts.append(
        f" SELECT a{iters}.node, a{iters}.a AS auth_micro,"
        f" h{iters}.h AS hub_micro FROM a{iters}"
        f" JOIN h{iters} ON a{iters}.node = h{iters}.node"
    )
    return "".join(parts)


def connected_components(pairs: DataFrame, ids: DataFrame) -> DataFrame:
    """Connected components of the undirected graph on ``ids`` (one
    column ``id``, every pair endpoint among them) with edges ``pairs``
    (columns ``src``, ``dst``): one ``(id, label)`` row per distinct id,
    ``label`` the MIN id of its component, so isolated ids keep their
    own.  Any orderable id type works (long, string); the result is
    deterministic under any partitioning, because labels are mins.

    Min-label propagation to a fixpoint.  One round is one action: the
    labels join the symmetric edges on src, union with the current
    labels, and one keyed aggregate takes ``min(label)`` while carrying
    each node's old label as ``max(old)``; an ``Observation`` counts
    the changed labels on the eager ``localCheckpoint`` that
    materializes the round and cuts its plan.  The only exit is a round
    that changes nothing, so a partial closure is never returned and
    the loop ends within (largest component diameter + 1) rounds.

    Trade-off: ``localCheckpoint`` blocks are not recomputed after an
    executor is lost (persisted labels would be); the job fails
    instead."""
    edges = (
        pairs.select("src", "dst")
        .unionByName(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .persist()
    )
    labels = ids.select("id", F.col("id").alias("label")).distinct()
    try:
        while True:
            prop = edges.join(labels, edges.src == labels.id).select(
                F.col("dst").alias("id"), "label"
            )
            changed = Observation()
            labels = (
                labels.select("id", "label", F.col("label").alias("old"))
                .unionByName(prop, allowMissingColumns=True)
                .groupBy("id")
                .agg(F.min("label").alias("label"), F.max("old").alias("old"))
                .observe(
                    changed,
                    F.count_if(F.col("label") != F.col("old")).alias("n"),
                )
                .localCheckpoint()
                .select("id", "label")
            )
            if changed.get["n"] == 0:
                return labels
    finally:
        edges.unpersist()
