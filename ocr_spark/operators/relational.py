"""Relational operators mirroring SURVEY.md §2 slugs.

These are the SQL-expressible faces of the reference's dataflow stages
(page-range pruning, first-N prefix, alignment union, ordering window,
excel-width aggregate, resume anti-join), each kept declarative so Catalyst
does pushdown/pruning/reordering for free.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.runs import ordered_list, run_ids


def range_filter(df: DataFrame, col: str, start: int, end: int | None) -> DataFrame:
    """1-based inclusive range selection (reference page_range_filter,
    scripts/ExtractX_OCR.py:240-258); end=None → open-ended.

    A plain conjunctive predicate → parquet rowgroup pruning + partition
    pruning apply automatically.
    """
    cond = F.col(col) >= F.lit(start)
    if end is not None:
        cond = cond & (F.col(col) <= F.lit(end))
    return df.filter(cond)


def prefix_limit(df: DataFrame, col: str, n: int) -> DataFrame:
    """First-N prefix on a dense ordinal column (reference 'first N pages',
    scripts/ExtractX_OCR.py:163-171) — a range filter, NOT a global LIMIT,
    so it needs no single-partition collect at scale."""
    return df.filter(F.col(col) <= F.lit(n))


def align_union(dfs: list[DataFrame], fill: str = "") -> DataFrame:
    """Column-aligned union: union of column sets, missing columns filled
    with ``fill`` (reference schema_align_union, scripts/ExtractX_OCR.py:
    549-572 — the ""-fill after cleaning).

    unionByName(allowMissingColumns=True) yields nulls for absent columns;
    the coalesce afterwards realizes the reference's empty-string fill while
    leaving genuine nulls produced *within* a source intact only if the
    caller pre-marks them (the pipeline's NA-vs-fill asymmetry lives in the
    extraction path; at the relational layer fill is uniform).
    """
    unioned = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
    )
    fills = [
        F.coalesce(F.col(c), F.lit(fill)).alias(c)
        if t == "string"
        else F.col(c)
        for c, t in unioned.dtypes
    ]
    return unioned.select(*fills)


def row_order(
    df: DataFrame, part_col: str, order_cols: list[str], out_col: str = "row_num"
) -> DataFrame:
    """Explicit row identity: row_number over partition/order keys
    (reference's implicit loop order, scripts/ExtractX_OCR.py:532,570,
    made logical so it survives any physical ordering)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(part_col).orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(out_col, F.row_number().over(w).cast("long"))


def excel_widths(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column Excel auto-width: least(max(length)+2, 50)
    (reference save_to_excel, scripts/ExtractX_OCR.py:464-478).
    One-row result; a pure aggregate with map-side partial combine."""
    return df.agg(
        *[
            F.least(
                F.max(F.length(F.col(c))).cast("long") + F.lit(2).cast("long"),
                F.lit(50).cast("long"),
            ).alias(f"{c}_width")
            for c in cols
        ]
    )


def anti_join_unfinished(
    df: DataFrame, finished: DataFrame, key: str, broadcast: bool = True
) -> DataFrame:
    """Checkpoint-resume core: keep rows whose key is NOT in finished.
    finished is small (one row per completed partition) → broadcast, no
    shuffle of the big side."""
    f = F.broadcast(finished) if broadcast else finished
    return df.join(f, key, "left_anti")


def group_count(df: DataFrame, key: str, out_col: str = "n") -> DataFrame:
    """Metadata-style count per group (reference page_count_scan analogue)."""
    return df.groupBy(key).agg(F.count("*").alias(out_col))


def nonempty_filter(df: DataFrame, col: str) -> DataFrame:
    """Drop empty extraction results (reference empty_result_filter,
    scripts/ExtractX_OCR.py:538-542)."""
    return df.filter(F.col(col).isNotNull() & (F.length(F.col(col)) > 0))


def suffix_filter(df: DataFrame, col: str, suffix: str) -> DataFrame:
    """Case-insensitive suffix routing predicate (reference extension
    dispatch, scripts/ExtractX_OCR.py:514,520)."""
    return df.filter(F.lower(F.col(col)).endswith(suffix.lower()))


# -- beyond-reference relational breadth (not in the reference; standard
#    engine surface a corpus-analytics user expects) ------------------------


def rollup_counts(df: DataFrame, dims: list[str], measure: str) -> DataFrame:
    """Hierarchical rollup over ``dims``: count + sum(measure) at every
    prefix level, grand total included. Pure built-in `rollup` — partial
    aggregation applies per grouping set; no extra scan per level."""
    return (
        df.rollup(*dims)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(measure).cast("long").alias(f"sum_{measure}"),
        )
    )


def topk_by(df: DataFrame, order_cols: list[str], k: int) -> DataFrame:
    """Deterministic global top-k: ORDER BY ... LIMIT k compiles to
    TakeOrderedAndProject — per-partition heaps + one tiny driver merge,
    never a global sort. order_cols must form a total order (break ties
    with a unique id) or the selected set is nondeterministic."""
    return df.orderBy(*[F.col(c).desc() for c in order_cols]).limit(k)


def except_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """Set difference (SQL EXCEPT DISTINCT) — compiles to a left-anti hash
    join over distinct rows. subtract() excludes a row ENTIRELY if it
    appears in b, regardless of its multiplicity in a (the former
    exceptAll(b.distinct()).distinct() form wrongly kept rows appearing
    N>1 times in a and once in b)."""
    return a.subtract(b)


def intersect_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """Set intersection (SQL INTERSECT DISTINCT) — a left-semi hash join
    over distinct rows; the complement of except_distinct."""
    return a.intersect(b)


def semi_join(
    left: DataFrame, right: DataFrame, keys: list[str], broadcast: bool = True
) -> DataFrame:
    """EXISTS-style filter: left rows whose key appears in right, without
    duplicating left rows for multiple right matches (left_semi — the join
    never materializes right columns). ``broadcast=True`` hints the
    distinct key set onto every executor so the big side never shuffles
    (the distinct blocks the planner's own size estimate pre-AQE); pass
    False when the key set is itself huge → shuffled semi join."""
    key_set = right.select(*keys).distinct()
    if broadcast:
        key_set = F.broadcast(key_set)
    return left.join(key_set, keys, "left_semi")


def deterministic_sample(
    df: DataFrame, id_col: str, hex_threshold: str
) -> DataFrame:
    """Hash-prefix sampling: keep rows with md5(cast(id)) < threshold.
    Deterministic under any partitioning / cluster size — the property
    that matters for reproducible training-data subsets at 100 TB (a
    rand()-based sample changes between runs and between retries). A
    1-hex-digit threshold '2' keeps ~2/16 of rows."""
    return df.filter(F.md5(F.col(id_col).cast("string")) < F.lit(hex_threshold))


def stratified_sample_topk(
    df: DataFrame, stratum_col: str, id_col: str, k: int
) -> DataFrame:
    """Per-stratum deterministic sample: the k rows with the smallest
    md5(cast(id)) in each stratum — one exchange on the stratum key, a
    per-group heap via row_number, no global sort. The md5 order is a
    reproducible shuffle within each group."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def tumbling_counts(
    df: DataFrame, ts: str, dims: list[str], window: str = "1 hour"
) -> DataFrame:
    """Batch tumbling-window aggregate: F.window buckets (epoch-aligned)
    per dimension — the same declarative operator the streaming face uses
    with a watermark, here over a static table. One scan + one partial-
    aggregated exchange on (window, dims)."""
    return (
        df.groupBy(F.window(F.col(ts), window).alias("win"), *dims)
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            *dims,
            "n_events",
        )
    )


def session_agg(
    df: DataFrame, key: str, ts: str, gap: str = "10 minutes"
) -> DataFrame:
    """Batch session windows: per-key event groups separated by more than
    ``gap`` of silence (built-in session_window — in batch it compiles to
    a sort within each key partition plus gap-merge, no state store).
    Output: (key, sess_start, sess_end, n_events); end = last event +
    gap, the Spark session_window contract."""
    return (
        df.groupBy(F.session_window(F.col(ts), gap).alias("sess"), key)
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            key,
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "n_events",
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    ts: str,
    payload: dict[str, str],
) -> DataFrame:
    """Left as-of join: every left row gains the payload of the LATEST
    right row with ``right.ts <= left.ts`` per key group (left rows with
    no prior right row keep nulls). Spark has no ASOF JOIN operator
    (DuckDB/kdb/Flink do); this is the sort-merge-as-of shape composed
    from built-ins:

        union both sides (right tagged 0, left 1)
        → ONE hash exchange on keys + ONE sort (keys, ts, tag, tiebreak)
        → last(payload, ignorenulls) over rows-unbounded-preceding window
        → keep left rows.

    At a tie ts, the right row sorts first (tag 0 < 1) ⇒ `<=` semantics;
    ties among right rows resolve to the greatest first-payload value
    (deterministic under any partitioning). No per-left-row probe, no
    range cross join: cost is the same one exchange + sort a groupBy
    would pay, so it scales like any keyed agg — skewed keys respond to
    the same salting as the extraction path.
    """
    from pyspark.sql.window import Window

    out_cols = list(payload.values())
    lcols = left.columns
    l = left
    for rc, oc in payload.items():
        l = l.withColumn(oc, F.lit(None).cast(dict(right.dtypes)[rc]))
    l = l.withColumn("__r", F.lit(1))
    r = right.select(
        *keys,
        F.col(ts).alias(ts),
        *[F.col(rc).alias(oc) for rc, oc in payload.items()],
    )
    for c in lcols:
        if c not in keys and c != ts:
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    r = r.withColumn("__r", F.lit(0))
    sel = [*lcols, *out_cols, "__r"]
    u = l.select(*sel).unionByName(r.select(*sel))
    order = [F.col(ts).asc(), F.col("__r").asc(), F.col(out_cols[0]).asc_nulls_first()]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # all payloads in ONE select over the SAME window spec → a single
    # Window node / single sort (sequential withColumn would overwrite
    # the tiebreak column mid-way and split the sort)
    u = u.select(
        *lcols,
        "__r",
        *[F.last(oc, ignorenulls=True).over(w).alias(oc) for oc in out_cols],
    )
    return u.filter(F.col("__r") == 1).drop("__r")


def range_join_window_agg(
    anchors: DataFrame,
    points: DataFrame,
    keys: list[str],
    ts: str,
    window_sec: int,
    value_col: str,
    bin_sec: int = 300,
) -> DataFrame:
    """Range (interval) join + aggregate: for each anchor row, count and
    sum ``value_col`` over the points of the same key with
    ``anchor.ts <= point.ts <= anchor.ts + window_sec`` (inclusive ends).
    Anchors with no points keep n=0 / sum=0.

    Spark has no range-join operator, and the naive formulation (equi-join
    on key + ts inequality) degenerates to a per-key cross product. This
    is the standard bin-bucketing shape instead: the anchor's interval
    explodes into ceil(window/bin)+1 fixed-width epoch bins, each point
    lands in exactly one bin, and the join is a plain equi-join on
    (key, bin) — shuffle-partitionable, AQE-skew-splittable, never a
    nested loop. A point matches at most one exploded bin row of a given
    anchor, so no post-join dedup is needed; the exact inequality filter
    runs inside the aggregate (conditional count/sum), which also keeps
    empty-window anchors via the left join.
    """
    a_start = F.unix_timestamp(F.col(ts))
    a = anchors.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(a_start / bin_sec),
                F.floor((a_start + window_sec) / bin_sec),
            )
        ),
    )
    p_cols = [F.col(c).alias(f"__p_{c}") for c in [*keys, ts, value_col]]
    p = points.select(*p_cols).withColumn(
        "__bin", F.floor(F.unix_timestamp(F.col(f"__p_{ts}")) / bin_sec)
    )
    cond = [a[k] == p[f"__p_{k}"] for k in keys] + [a["__bin"] == p["__bin"]]
    j = a.join(p, cond, "left")
    in_range = (F.col(f"__p_{ts}") >= F.col(ts)) & (
        F.col(f"__p_{ts}") <= F.col(ts) + F.expr(f"INTERVAL {window_sec} SECONDS")
    )
    return (
        j.groupBy(*[a[c] for c in anchors.columns])
        .agg(
            F.count(F.when(in_range, 1)).alias("n_points"),
            F.round(
                F.coalesce(F.sum(F.when(in_range, F.col(f"__p_{value_col}"))), F.lit(0.0)),
                2,
            ).alias("sum_value"),
        )
    )


def cube_counts(df: DataFrame, dims: list[str], measure: str) -> DataFrame:
    """CUBE over ``dims``: count + sum(measure) for every dim subset, with
    grouping_id disambiguating total rows from genuine-NULL dim values.
    Same partial-aggregation-per-grouping-set execution as rollup."""
    return df.cube(*dims).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum(measure).cast("long").alias(f"sum_{measure}"),
    )


def exact_quantiles(df: DataFrame, col: str, probs: list[float]) -> DataFrame:
    """Exact continuous quantiles (linear interpolation) as rows
    (p, value). `percentile` is an exact aggregate — one pass + a
    per-group sort of the collected values; for a single global group the
    reduce side is one task, fine for stats-sized outputs (use
    approx_percentile at data-proportional cardinalities)."""
    arr = ", ".join(str(p) for p in probs)
    q = df.agg(
        F.expr(f"percentile({col}, array({arr}))").alias("qs")
    )
    probs_col = F.array(*[F.lit(p) for p in probs])
    return q.select(
        F.posexplode(F.arrays_zip(probs_col.alias("p"), F.col("qs")))
    ).select(
        F.col("col.p").alias("p"),
        F.round(F.col("col.qs"), 3).alias("value"),
    )


def star_join_enrich(
    fact: DataFrame, dims: list[tuple[DataFrame, str]], select_cols: list[str]
) -> DataFrame:
    """Star-schema enrichment: the fact table joined to small dimensions,
    every dimension BROADCAST so the fact side streams through without a
    single shuffle — at 100 TB this is the difference between a map-only
    stage and N full-fact exchanges. dims = [(dim_df, key), ...]."""
    out = fact
    for dim, key in dims:
        out = out.join(F.broadcast(dim), key)
    return out.select(*select_cols)


def salted_group_agg(
    df: DataFrame, key: str, value: str, salt_buckets: int = 16
) -> DataFrame:
    """Two-phase aggregation for SKEWED group keys: pre-aggregate on
    (key, salt) — splitting each heavy key across ``salt_buckets``
    reducers — then combine the partials on the key alone. The second
    exchange moves at most |keys|·salt_buckets rows, so no single reducer
    ever sees a heavy key's full row stream. Result is identical to a
    plain groupBy (sums of longs are associative); use for low-cardinality
    high-volume keys where AQE skew handling isn't available (e.g.
    deliberate salting per the scale contract)."""
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(key, "__salt")
        .agg(
            F.count("*").alias("__n"),
            F.sum(F.col(value)).alias("__s"),
        )
    )
    return partial.groupBy(key).agg(
        F.sum("__n").cast("long").alias("n_rows"),
        F.sum("__s").alias(f"sum_{value}"),
    )


def event_funnel(
    events: DataFrame,
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
) -> DataFrame:
    """Ordered three-step conversion funnel over an event stream: for
    every user with at least one ``steps[0]`` event, find the FIRST
    such event, then the first ``steps[1]`` event strictly after it,
    then the first ``steps[2]`` event strictly after that — the
    product-analytics primitive (view → click → purchase conversion).

    "First" and "after" are (ts, event_id)-lexicographic, so ties are
    deterministic and the result carries only event IDs and booleans —
    no raw timestamp ever leaves the plan (sidestepping cross-engine
    timestamp-epoch drift entirely).

    Scale shape: each step is one keyed aggregation on user_id
    (min(struct(ts,id)) — map-side combining, no window over the event
    table) plus one join of the step-(k-1) firsts, which are ≤1 row per
    user; skewed users cost one hot key in a hash agg, not a sort."""

    def _first(df: DataFrame, typ: str) -> DataFrame:
        return (
            df.filter(F.col("event_type") == typ)
            .groupBy("user_id")
            .agg(F.min(F.struct("ts", "event_id")).alias("__m"))
            .select(
                "user_id",
                F.col("__m.ts").alias("ts"),
                F.col("__m.event_id").alias("eid"),
            )
        )

    def _first_after(prev: DataFrame, typ: str) -> DataFrame:
        ev = events.filter(F.col("event_type") == typ).select(
            "user_id", "ts", "event_id"
        )
        anchored = ev.join(
            prev.select(
                "user_id",
                F.col("ts").alias("__t0"),
                F.col("eid").alias("__id0"),
            ),
            "user_id",
        )
        return (
            anchored.filter(
                (F.col("ts") > F.col("__t0"))
                | (
                    (F.col("ts") == F.col("__t0"))
                    & (F.col("event_id") > F.col("__id0"))
                )
            )
            .groupBy("user_id")
            .agg(F.min(F.struct("ts", "event_id")).alias("__m"))
            .select(
                "user_id",
                F.col("__m.ts").alias("ts"),
                F.col("__m.event_id").alias("eid"),
            )
        )

    s1 = _first(events, steps[0])
    s2 = _first_after(s1, steps[1])
    s3 = _first_after(s2, steps[2])
    return (
        s1.select("user_id", F.col("eid").alias("view_id"))
        .join(
            s2.select("user_id", F.col("eid").alias("__c")), "user_id", "left"
        )
        .join(
            s3.select("user_id", F.col("eid").alias("__p")), "user_id", "left"
        )
        .select(
            "user_id",
            "view_id",
            F.coalesce(F.col("__c"), F.lit(-1)).cast("long").alias("click_id"),
            F.coalesce(F.col("__p"), F.lit(-1))
            .cast("long")
            .alias("purchase_id"),
            F.col("__c").isNotNull().alias("reached_click"),
            F.col("__p").isNotNull().alias("reached_purchase"),
        )
    )


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """ANALYZE-style table profiling: one row per profiled column with
    the table row count, NULL count, and EXACT distinct count — the
    metadata pass that feeds optimizer statistics and data-quality
    dashboards.

    All counts come from ONE aggregation job (Spark rewrites the
    multiple exact DISTINCTs with an Expand of factor ≈ len(cols) —
    the inherent cost of exact multi-column NDV, acceptable for a
    stats pass that runs once per snapshot; at 100 TB the scale path
    swaps countDistinct for approx_count_distinct(HLL) column-for-
    column, which drops the Expand entirely — kept exact here so the
    DuckDB oracle value-matches). The single result row then explodes
    into the per-column long format JVM-side."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"__null_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"__dist_{c}"))
    row = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"__null_{c}").alias("n_null"),
                F.col(f"__dist_{c}").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return (
        row.select(F.col("__n").cast("long").alias("n_rows"), structs.alias("__a"))
        .select("n_rows", F.explode("__a").alias("__s"))
        .select(
            F.col("__s.column_name").alias("column_name"),
            "n_rows",
            F.col("__s.n_null").cast("long").alias("n_null"),
            F.col("__s.n_distinct").cast("long").alias("n_distinct"),
        )
    )


#: Morton-spread stages: interleave-ready bit spreading of a 16-bit
#: value via the classic magic masks (Bit Twiddling Hacks / Morton
#: 1966 indexing). Contract — the oracle unrolls the same stages.
_SPREAD_STAGES = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread_sql(expr: str, shl) -> str:
    """SQL for spreading the low 16 bits of ``expr`` so they occupy
    every other bit position. ``shl(x, s)`` renders a left shift in the
    target dialect (Spark ``shiftleft``, DuckDB ``<<``) — one generator
    for both engines, zero transcription drift."""
    x = f"(({expr}) & 65535)"
    for s, m in _SPREAD_STAGES:
        x = f"((({x}) | {shl(x, s)}) & {m})"
    return x


def zorder_zval_sql(dim1: str, dim2: str, shl) -> str:
    """Morton code of (dim1, dim2): dim1 on even bits, dim2 on odd
    (``* 2`` == shift-by-1, portable verbatim across both dialects)."""
    return (
        f"({_spread_sql(dim1, shl)} | ({_spread_sql(dim2, shl)} * 2))"
    )


#: zfile = zval >> 20: 4096 possible layout files over the 32-bit code.
ZORDER_FILE_SHIFT = 20


def zorder_layout(
    df: DataFrame,
    dim1: str = "doc_id",
    dim2: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Z-order (Morton) clustering key — the data-layout pass behind
    Delta/Iceberg ``OPTIMIZE ZORDER BY``: interleave the bits of two
    filter dimensions so rows close in EITHER dimension land in the
    same layout file, letting min/max file statistics prune scans for
    range predicates on both columns at once (a linear sort on one
    column can only prune the other by luck).

    Output per row: the 32-bit Morton code and the target layout file
    (top 12 bits). Scale shape: pure per-row JVM bit arithmetic inside
    whole-stage codegen — ZERO exchanges here; the actual
    repartitionByRange(zval) write that consumes this key shuffles
    once, exactly like any clustered write."""
    shl = lambda x, s: f"shiftleft({x}, {s})"  # noqa: E731
    zval = zorder_zval_sql(
        f"CAST({dim1} AS BIGINT)", f"CAST({dim2} AS BIGINT)", shl
    )
    return df.select(
        F.col(id_col),
        F.col(dim1).cast("long").alias("d1"),
        F.col(dim2).cast("long").alias("d2"),
        F.expr(zval).cast("long").alias("zval"),
    ).select(
        "*",
        F.expr(f"zval DIV {1 << ZORDER_FILE_SHIFT}")
        .cast("long")
        .alias("zfile"),
    )


def event_retention(events: DataFrame) -> DataFrame:
    """Cohort retention matrix — the second classic product-analytics
    aggregate next to :func:`event_funnel`: users are grouped into
    cohorts by their FIRST event day, and each (cohort_day, day_offset)
    cell counts how many of that cohort were active again ``offset``
    days later, with the retention fraction in exact integer
    micro-units (BIGINT DIV ≡ DuckDB ``//``).

    Scale shape: distinct (user, day) activity first (map-side
    combining collapses per-user event volume before anything joins),
    then two keyed aggregations and one join on cohort_day — no window
    function, no per-user skew beyond the distinct's hash agg."""
    days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = days.join(first, "user_id").select(
        "cohort_day",
        F.datediff("day", "cohort_day").alias("day_offset"),
        "user_id",
    )
    mat = act.groupBy("cohort_day", "day_offset").agg(
        F.count("*").cast("long").alias("n_active")
    )
    size = first.groupBy("cohort_day").agg(
        F.count("*").cast("long").alias("cohort_size")
    )
    return mat.join(size, "cohort_day").select(
        "cohort_day",
        F.col("day_offset").cast("int").alias("day_offset"),
        "n_active",
        "cohort_size",
        F.expr("n_active * 1000000 DIV cohort_size")
        .cast("long")
        .alias("retention_micro"),
    )

#: sessionize inactivity gap: a new session starts after 30 idle minutes.
SESSION_GAP_SEC = 1800


def sessionize(events: DataFrame, gap_sec: int = SESSION_GAP_SEC) -> DataFrame:
    """Inactivity-gap sessionization — the third classic event-stream
    shape next to :func:`event_funnel` / :func:`event_retention`: a
    user's events belong to one session until a silence longer than
    ``gap_sec``; each new gap starts the next session, numbered 1.. by
    :func:`runs.run_ids`.

    Timestamps are compared as exact epoch MICROSECONDS (the
    TIMESTAMP_NTZ → ltz hop under the session's pinned UTC zone, ≡
    DuckDB ``epoch_us``), and only integer aggregates cross engines —
    counts and the max−min duration — never a raw timestamp. The
    per-user event order is (ts_us, event_id), total because event_id
    is unique.

    Scale shape: ONE exchange on user_id feeds the window (a single
    Window sort) AND the final aggregate — hash partitioning on user_id
    satisfies the (user_id, session_seq) clustering requirement, so the
    groupBy adds no exchange. Per-user data is bounded (a user's history
    fits a partition easily at any corpus size); a pathological robot
    user is an AQE-skew concern for the sort, not a correctness one.
    """
    from pyspark.sql.window import Window

    ev = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = int(gap_sec) * 1_000_000
    prev = F.lag("ts_us").over(w)
    # a NULL predecessor opens a session too, not only the first event
    new = prev.isNull() | (F.col("ts_us") - prev > F.lit(gap_us))
    ev = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts_us",
        (run_ids(w, new) + 1).alias("session_seq"),
    )
    return ev.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).cast("long").alias("duration_us"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
    )


def ohlc_bars(events: DataFrame, bar_sec: int = 3600) -> DataFrame:
    """Time-series bar (candlestick) downsampling — the classic resample
    aggregate: per (event_type, fixed epoch bucket), the event count,
    the value extremes, and the IDs of the opening and closing events
    under the (ts_us, event_id) total order.

    Cross-engine exactness: the bucket is integer epoch-microsecond
    division; open/close are the string-encoded min/max of
    ``lpad(ts_us,20)||lpad(event_id,12)`` (plain MIN/MAX on both
    engines, no struct-ordering or arg_min semantics), exported as
    event IDs — the event_funnel convention, so no raw timestamp
    crosses engines. lo/hi are untouched stored doubles (pure min/max,
    no arithmetic, bit-identical).

    Scale shape: ONE exchange carrying (event_type, bar, partials) —
    map-side combine collapses per-bucket volume before the shuffle.
    """
    bar_us = int(bar_sec) * 1_000_000
    ev = events.select(
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        "event_id",
    ).select(
        "event_type",
        "value",
        F.expr(f"ts_us DIV {bar_us}").cast("long").alias("bar"),
        F.concat(
            F.lpad(F.col("ts_us").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        ).alias("__k"),
    )
    return ev.groupBy("event_type", "bar").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.expr("CAST(substring(MIN(__k), 21) AS BIGINT)").alias(
            "open_event_id"
        ),
        F.expr("CAST(substring(MAX(__k), 21) AS BIGINT)").alias(
            "close_event_id"
        ),
    )


def table_to_markdown(
    df: DataFrame,
    header: list[str],
    group_col: str = "doc_id",
    order_col: str = "row_idx",
    cells_col: str = "cells",
) -> DataFrame:
    """Serialize an extracted record stream to a GitHub-flavored
    markdown pipe table per group — the training-data-side sink for
    extracted tables (the reference writes Excel,
    `/root/reference/scripts/ExtractX_OCR.py:560-575`; an LLM corpus
    wants the markdown serialization): header row + ``---`` separator
    + one ``| c1 | c2 |`` line per record in ``order_col`` order.
    Cell pipes are escaped ``|`` → ``\\|`` so the table stays
    parseable; all other characters pass through verbatim.

    Scale shape: per-row JVM string assembly, then ONE group-by
    exchange carrying (group, order, rendered-line) with an ordered
    in-memory reassembly per group — the parallel axis is groups
    (documents/pages), each of which is one table.
    """
    head = "| " + " | ".join(header) + " |"
    sep = "| " + " | ".join("---" for _ in header) + " |"
    line = F.concat(
        F.lit("| "),
        F.array_join(
            F.transform(
                F.col(cells_col),
                lambda c: F.replace(c, F.lit("|"), F.lit("\\|")),
            ),
            " | ",
        ),
        F.lit(" |"),
    )
    rows = df.select(
        F.col(group_col),
        F.col(order_col).alias("__ord"),
        line.alias("__line"),
    )
    return rows.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.concat(
            F.lit(head + "\n" + sep + "\n"),
            F.array_join(ordered_list("__ord", "__line"), "\n"),
        ).alias("markdown"),
    )


#: heavy_keys report size — operator contract (the (count desc, key
#: asc) order is total, so the cut is deterministic).
HEAVY_KEYS_K = 20


def heavy_keys(
    df: DataFrame, key_col: str, k: int = HEAVY_KEYS_K
) -> DataFrame:
    """Pre-join skew report — the diagnostic run before keying a big
    join or aggregation (AQE splits skewed partitions at runtime, but
    choosing salting / broadcast strategy needs the heavy hitters up
    front): the k heaviest keys by row count with their exact share of
    the table in integer micro-units.

    Scale shape: one map-side-combining count per key, a distributed
    TakeOrdered for the top-k (never a global row_number window), and
    the table total joined in as a broadcast 1-row aggregate."""
    counts = df.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    total = df.agg(F.count(F.lit(1)).cast("long").alias("__total"))
    top = counts.orderBy(
        F.col("cnt").desc(), F.col(key_col).asc()
    ).limit(k)
    return top.crossJoin(F.broadcast(total)).select(
        key_col,
        "cnt",
        F.expr("div(cnt * 1000000, __total)")
        .cast("long")
        .alias("share_micro"),
    )
