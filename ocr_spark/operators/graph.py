"""Link-graph operators over the domain graph a web corpus induces —
the crawl-frontier / source-weighting side of a training-data pipeline
(PageRank-weighted domain sampling is the classic quality prior for
web text; see Page et al. 1999, and Common Crawl's host-level ranks).

PageRank and HITS are integer micro-unit arithmetic with a FIXED
iteration count, so the DuckDB oracle replays the exact values by
textually unrolling the same iterations (the k-means / IVF precedent in
operators/similarity.py). :func:`connected_components` instead propagates
labels until the edges left between labels fit under
:data:`CC_DRIVER_EDGES`, then ends with union-find on the driver; its
oracles are recursive CTEs.

Reference parity note: the reference repo (a single-document OCR
script) has no corpus-level graph pass; this is builder-brief breadth
for the 100 TB training-data pipeline surface.
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

log = logging.getLogger("ocr_spark")

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


#: Live-edge bound for finishing :func:`connected_components` on the
#: driver: once at most this many distinct edges still join two
#: different labels, one ``limit(CC_DRIVER_EDGES + 1)`` collect brings
#: them to the driver and union-find ends the closure. Measured at
#: ``local[4]`` on forests of 32-node random trees: at this bound the
#: finish peaks at 9 MB of traced driver Python memory (long ids; 10 MB
#: for 17-character string ids), and it costs about 10 µs per live
#: edge, 0.2 s here, against 0.35-0.45 s for one distributed round of
#: a graph of up to 40,000 edges, so a hand-off, which saves at least
#: one round, does not cost more than it saves. 0 runs every round
#: distributed, to the fixpoint.
CC_DRIVER_EDGES = 20_000


def connected_components(pairs: DataFrame, ids: DataFrame) -> DataFrame:
    """Connected components of the undirected graph on ``ids`` (one
    column ``id``, every pair endpoint among them) with edges ``pairs``
    (columns ``src``, ``dst``; a pair with a NULL endpoint is no edge):
    one ``(id, label)`` row per distinct id, ``label`` the MIN id of its
    component, so isolated ids keep their own.  Any orderable id type
    whose Python values sort as Spark sorts them works (long, string);
    the result is deterministic under any partitioning, because labels
    are mins.

    Min-label propagation, finished on the driver once the *live edges*
    (the edges relabeled to ``(label[src], label[dst])``, kept where the
    two labels differ, as distinct unordered pairs) fit under
    :data:`CC_DRIVER_EDGES`.  One bounded action collects at most
    ``CC_DRIVER_EDGES + 1`` of them; if they fit, union-find over those
    label pairs, with each component's minimum as its root, ends the
    closure, and each label maps to its root through a broadcast join
    of a small frame of the id column's own type.  Labels no live edge
    touches keep their value.
    - Before round 1 the live edges are the edge frame itself (distinct
      pairs of two different ids), local-checkpointed lazily so that
      this first collect fills it.
    - A round is one action: the labels join the symmetric edges on
      src, union with the current labels, and one keyed aggregate takes
      ``min(label)`` while carrying each node's old label as
      ``max(old)``; an ``Observation`` counts the changed labels on the
      eager ``localCheckpoint`` that materializes the round and cuts
      its plan.  A round that changes nothing is the fixpoint.
    - Every live edge touches an id the last round changed, so the
      bounded collect runs only once that count is at most the bound,
      and after a collect that overflows, only once the count has
      halved: a round above the bound costs what it did before the
      driver finish existed.
    Bound 0 is the plain fixpoint loop, so a partial closure is never
    returned, and the loop ends within (largest component diameter + 1)
    rounds.  Logs ``rounds=R driver_edges=E`` once per call to the
    ``ocr_spark`` logger.

    Trade-off: ``localCheckpoint`` blocks are not recomputed after an
    executor is lost (persisted frames would be); the job fails
    instead."""
    edges = _live_edges(pairs.select("src", "dst")).localCheckpoint(eager=False)
    both = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = ids.select("id", F.col("id").alias("label")).distinct()
    rows = _collect_live(edges)
    rounds, gate = 0, CC_DRIVER_EDGES
    while len(rows) > CC_DRIVER_EDGES:
        prop = both.join(labels, both.src == labels.id).select(
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
        rounds += 1
        n = changed.get["n"]
        if n == 0:
            rows = []
        elif n <= gate:
            rows, gate = _collect_live(_live_edges(edges, labels)), n // 2
    log.info("connected_components rounds=%d driver_edges=%d", rounds, len(rows))
    if not rows:
        return labels
    t = labels.schema["label"].dataType
    # from pandas, which Arrow turns into a local relation: from a list,
    # PySpark re-pickles the rows in a Python map, starting Python workers
    roots = labels.sparkSession.createDataFrame(
        pd.DataFrame(
            list(_union_find_roots(rows).items()),
            columns=["__l", "__root"],
            dtype=object,
        ),
        StructType([StructField("__l", t), StructField("__root", t)]),
    )
    return labels.join(
        F.broadcast(roots), F.col("label") == F.col("__l"), "left"
    ).select("id", F.coalesce("__root", "label").alias("label"))


def _collect_live(live: DataFrame) -> list:
    """At most ``CC_DRIVER_EDGES + 1`` rows of ``live``, in one job: on
    one partition the limit reads it at once, where a take over a
    shuffle's partitions runs one job per growing batch."""
    return live.coalesce(1).limit(CC_DRIVER_EDGES + 1).collect()


def _live_edges(edges: DataFrame, labels: DataFrame | None = None) -> DataFrame:
    """The distinct ``(src, dst)`` pairs, ``src < dst``, of the labels
    that an edge joins; without ``labels``, of the edge's own ids.  A
    pair with a NULL endpoint fails ``src != dst``, so it is no edge."""
    if labels is not None:
        ls = labels.select(F.col("id").alias("src"), F.col("label").alias("l"))
        ld = labels.select(F.col("id").alias("dst"), F.col("label").alias("r"))
        edges = edges.join(ls, "src").join(ld, "dst").select(
            F.col("l").alias("src"), F.col("r").alias("dst")
        )
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )


def _union_find_roots(pairs) -> dict:
    """Union-find over label pairs: each label a pair touches whose
    component has a smaller label, mapped to that minimum."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: r for x in list(parent) if (r := find(x)) != x}
