"""Extended relational surface beyond the reference's own operators.

The reference has no grouping sets, set operations, outer joins, window
ranking, or pivot (SURVEY §2.3/§2.5 "Not present" lists) — but a user
replacing it with this engine gets them as first-class, oracle-checked
queries, since they are table stakes for any OLAP surface and all map to
single Catalyst operators (Expand, SetOperation, SortMergeJoin(outer),
Window, Pivot-as-Expand+agg).

Scale notes (100 TB):
- CUBE/ROLLUP expand each input row k-fold *before* the shuffle, but
  partial aggregation collapses them map-side; the shuffle carries only
  group keys × partial states.
- INTERSECT/EXCEPT compile to aggregate+join (distinct semantics) —
  one shuffle each side, AQE picks broadcast when a side is small.
- Window ranking partitions by the window key: one hash shuffle, then
  in-partition sort; no global sort.
- Pivot with an explicit value list is a plain grouped agg (one
  shuffle, 25 groups); without the list Spark needs an extra distinct
  pass over the pivot column — always pass the list at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from .registry import query

# ---------------------------------------------------------------------------
# B4 — CUBE with grouping_id (superset of the reference's plain groupBy A3)
# ---------------------------------------------------------------------------

B4_ORACLE = (
    "SELECT o_orderstatus AS status, o_orderpriority AS priority,"
    " CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,"
    " count(*) AS n_orders,"
    " CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total"
    " FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"
)


@query("b4_cube_agg", oracle=B4_ORACLE)
def b4_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) with grouping_id.

    Catalyst plans this as Expand (4 projections per row) feeding one
    partial+final HashAggregate — the 4x blowup never crosses the wire.
    Spark's grouping_id() and DuckDB's GROUPING() share the
    leftmost-arg-is-MSB convention (verified empirically).
    """
    orders = load(spark, sf_dir, "orders")
    return orders.cube(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("total"),
    )


# ---------------------------------------------------------------------------
# B5 — INTERSECT / EXCEPT (distinct set semantics on both engines)
# ---------------------------------------------------------------------------

B5_ORACLE = (
    "SELECT c_custkey AS custkey, 'with_orders' AS src FROM"
    " (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
    "  INTERSECT SELECT o_custkey FROM orders)"
    " UNION ALL "
    "SELECT c_custkey AS custkey, 'no_orders' AS src FROM"
    " (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
    "  EXCEPT SELECT o_custkey FROM orders)"
)


@query("b5_intersect_except", oracle=B5_ORACLE)
def b5_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILDING-segment customers split by order activity via
    INTERSECT / EXCEPT (both distinct-set semantics, matching SQL).

    Spark compiles both to aggregate + left-semi/anti join; at scale
    each is one shuffle per side and AQE broadcasts the small side.
    """
    cust = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    ordered = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    both = cust.intersect(ordered).withColumn("src", F.lit("with_orders"))
    only = cust.exceptAll(ordered.distinct()).distinct().withColumn(
        "src", F.lit("no_orders")
    )
    return both.unionAll(only)


# ---------------------------------------------------------------------------
# B6 — FULL OUTER JOIN with null sides
# ---------------------------------------------------------------------------

B6_ORACLE = (
    "SELECT coalesce(l.custkey, r.c_custkey) AS custkey,"
    " l.custkey IS NOT NULL AS has_orders,"
    " r.c_custkey IS NOT NULL AS in_segment"
    " FROM (SELECT DISTINCT o_custkey AS custkey FROM orders) l"
    " FULL OUTER JOIN"
    " (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY') r"
    " ON l.custkey = r.c_custkey"
)


@query("b6_full_outer_join", oracle=B6_ORACLE)
def b6_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of order-placing custkeys vs MACHINERY-segment
    customers — rows with a null side on both ends (customers without
    orders; order custkeys outside the segment).

    The reference has no outer joins (SURVEY §2.4 "Not present"); Spark
    plans this as sort-merge full-outer (outer joins can't broadcast
    the preserved side). One shuffle per side on the join key.
    """
    left = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    right = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "MACHINERY")
        .select("c_custkey")
    )
    joined = left.join(right, left.custkey == right.c_custkey, "full_outer")
    return joined.select(
        F.coalesce(left.custkey, right.c_custkey).alias("custkey"),
        left.custkey.isNotNull().alias("has_orders"),
        right.c_custkey.isNotNull().alias("in_segment"),
    )


# ---------------------------------------------------------------------------
# B7 — window ranking family: rank / dense_rank / lag
# ---------------------------------------------------------------------------

B7_ORACLE = (
    "SELECT * FROM ("
    " SELECT c_nationkey AS nation, c_custkey AS custkey,"
    " CAST(CAST(round(c_acctbal, 2) AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,"
    " CAST(rank() OVER w AS BIGINT) AS rnk,"
    " CAST(dense_rank() OVER w AS BIGINT) AS drnk,"
    " CAST(CAST(round(lag(c_acctbal) OVER w, 2) AS DECIMAL(18,2)) AS DOUBLE)"
    "  AS prev_bal"
    " FROM customer"
    " WINDOW w AS (PARTITION BY c_nationkey"
    "              ORDER BY round(c_acctbal, 2) DESC, c_custkey)"
    ") WHERE rnk <= 5"
)


@query("b7_window_rank", oracle=B7_ORACLE)
def b7_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 customers per nation by account balance with rank,
    dense_rank, and lag (previous balance in rank order).

    One hash shuffle on the partition key, in-partition sort — no
    global sort. Ordering is made deterministic by the (balance,
    custkey) tiebreak; balances rounded on both sides so double
    formatting can't disagree.
    """
    cust = load(spark, sf_dir, "customer")
    bal = F.round(F.col("c_acctbal"), 2)
    w = Window.partitionBy("c_nationkey").orderBy(bal.desc(), F.col("c_custkey"))
    return (
        cust.select(
            F.col("c_nationkey").alias("nation"),
            F.col("c_custkey").alias("custkey"),
            bal.cast("decimal(18,2)").alias("acctbal"),
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
            F.round(F.lag("c_acctbal").over(w), 2)
            .cast("decimal(18,2)")
            .alias("prev_bal"),
        )
        .where(F.col("rnk") <= 5)
    )


# ---------------------------------------------------------------------------
# B8 — pivot (wide conditional aggregation)
# ---------------------------------------------------------------------------

B8_ORACLE = (
    "SELECT o_orderpriority AS priority,"
    " count(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_open,"
    " count(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_filled,"
    " count(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_partial"
    " FROM orders GROUP BY o_orderpriority"
)


@query("b8_pivot_counts", oracle=B8_ORACLE)
def b8_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts by priority pivoted on status.

    The explicit value list ['O','F','P'] matters at scale: without it
    Spark runs an extra distinct job over the pivot column first. With
    it, pivot is a single grouped aggregation (one shuffle, partial
    agg map-side) — exactly the FILTER-agg the oracle runs.
    """
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .withColumnRenamed("O", "cnt_open")
        .withColumnRenamed("F", "cnt_filled")
        .withColumnRenamed("P", "cnt_partial")
        .na.fill(0, ["cnt_open", "cnt_filled", "cnt_partial"])
    )


# ---------------------------------------------------------------------------
# X2 — sketch aggregates (approximate: rows-only + statistical test)
# ---------------------------------------------------------------------------


@query("x2_sketch_aggs")  # no oracle: approximate results by design
def x2_sketch_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-count + approximate median per return flag.

    The 100 TB path for COUNT(DISTINCT) and exact percentiles — both
    exact forms need a full shuffle of the distinct values / a global
    sort; the sketches are single-pass, mergeable, fixed-memory
    (HyperLogLog++ rsd=0.01, ~24 KB per group; GK quantile summary).
    tests/test_analytics.py asserts relative error vs the exact
    answers (<= 5% distinct, median within [p40, p60]).
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# B9 — SQL front door: correlated EXISTS + scalar subquery via spark.sql
# ---------------------------------------------------------------------------

B9_SQL = (
    "SELECT c.c_custkey AS custkey, c.c_acctbal_r AS acctbal"
    " FROM (SELECT c_custkey, CAST(CAST(round(c_acctbal, 2)"
    "       AS DECIMAL(18,2)) AS DOUBLE)"
    "       AS c_acctbal_r, c_nationkey FROM customer) c"
    " WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
    " AND c.c_acctbal_r > (SELECT CAST(round(avg(c_acctbal), 2) AS"
    "     DECIMAL(18,2)) FROM customer c2"
    "     WHERE c2.c_nationkey = c.c_nationkey)"
)


@query("b9_sql_subqueries", oracle=B9_SQL)
def b9_sql_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: the engine's tables registered as views and
    queried with ANSI SQL — correlated EXISTS (decorrelated by Catalyst
    into a left-semi join) plus a correlated scalar subquery
    (decorrelated into an aggregate + join). The oracle is the same
    SQL text run by DuckDB, so the decorrelation is value-checked.

    Customers with at least one order whose balance beats their
    nation's average balance.
    """
    from ..catalog import register_all

    register_all(spark, sf_dir)
    return spark.sql(B9_SQL)


# ---------------------------------------------------------------------------
# B10 — exact interpolated percentiles (the sketch-free twin of x2)
# ---------------------------------------------------------------------------

B10_ORACLE = (
    "SELECT l_returnflag AS returnflag,"
    " round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,"
    " round(quantile_cont(l_extendedprice, 0.95), 6) AS p95"
    " FROM lineitem GROUP BY l_returnflag"
)


@query("b10_exact_percentiles", oracle=B10_ORACLE)
def b10_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated p50/p95 per return flag — Spark's
    percentile() and DuckDB's quantile_cont share linear-interpolation
    semantics, so the values match to the rounded digit.

    Exact percentiles need the full value multiset per group (memory
    ~O(group size) on the agg side); that is the cost x2's GK sketch
    avoids — keep both on the menu and pick by group cardinality.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("p95"),
    )


# ---------------------------------------------------------------------------
# B11 — distinct aggregates (mixed with plain aggregates in one pass)
# ---------------------------------------------------------------------------

B11_ORACLE = (
    "SELECT l_returnflag AS returnflag,"
    " count(DISTINCT l_suppkey) AS n_supps,"
    " count(DISTINCT l_partkey) AS n_parts,"
    " count(*) AS n_rows,"
    " CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty"
    " FROM lineitem GROUP BY l_returnflag"
)


@query("b11_distinct_aggregates", oracle=B11_ORACLE)
def b11_distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two DISTINCT aggregates mixed with plain aggregates in one
    grouped pass (SURVEY §2.3 lists distinct-aggregates as absent from
    the reference). Catalyst rewrites multiple distincts via Expand:
    each row is replicated per distinct column with a tag, deduped,
    then aggregated — one logical pass, no self-joins. At scale the
    Expand multiplies shuffle volume by the distinct-clause count;
    if that bites, swap to approx_count_distinct (x2_sketch_aggs).
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("qty"),
    )


# ---------------------------------------------------------------------------
# B12 — sliding window frame (moving average, ROWS BETWEEN)
# ---------------------------------------------------------------------------

B12_ORACLE = (
    "SELECT o_custkey AS custkey, o_orderkey AS orderkey,"
    " CAST(round(avg(CAST(o_totalprice AS DECIMAL(18,2)))"
    "  OVER (PARTITION BY o_custkey ORDER BY o_orderkey"
    "   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4)"
    "  AS DOUBLE) AS moving_avg"
    " FROM orders"
)


@query("b12_moving_average", oracle=B12_ORACLE)
def b12_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer 4-order moving average of order value — the
    ROWS-frame sliding window (b3 covers the cumulative RANGE-ish
    frame). DECIMAL input + rounded output so the frame average is
    exact on both engines. One shuffle on the partition key; frames
    evaluate in a single in-partition pass."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(-3, Window.currentRow)
    )
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.round(F.avg(F.col("o_totalprice").cast("decimal(18,2)")).over(w), 4)
        .cast("decimal(18,4)")
        .alias("moving_avg"),
    )


# ---------------------------------------------------------------------------
# P8 — null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------

P8_ORACLE = (
    "WITH l AS (SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status"
    "  FROM orders),"
    " r AS (SELECT * FROM (VALUES ('O', 'open'), ('F', 'filled'),"
    "  (NULL, 'pending')) AS t(status, label))"
    " SELECT l.o_orderkey AS orderkey, r.label"
    " FROM l JOIN r ON l.status IS NOT DISTINCT FROM r.status"
)


@query("p8_null_safe_join", oracle=P8_ORACLE)
def p8_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join: NULL keys match NULL (Spark ``<=>`` =
    SQL IS NOT DISTINCT FROM), the semantics a plain equi-join silently
    drops. Status 'P' is nulled on the fact side and NULL carries the
    'pending' label in the dimension, so the null-match path is
    actually exercised. Still hash-joinable (null-safe equality is an
    equi-key) — no fallback to nested-loop."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status"),
    )
    dim = spark.createDataFrame(
        [("O", "open"), ("F", "filled"), (None, "pending")],
        "status STRING, label STRING",
    )
    return orders.join(
        F.broadcast(dim), orders.status.eqNullSafe(dim.status)
    ).select(F.col("o_orderkey").alias("orderkey"), "label")


# ---------------------------------------------------------------------------
# B13 — explicit GROUPING SETS (arbitrary set list, not rollup/cube)
# ---------------------------------------------------------------------------

# Same query text except the grouping-bitmask function name: Spark's
# SQL grouping() is unary, so the Spark side uses grouping_id(a, b)
# while DuckDB uses its variadic GROUPING(a, b) — identical bitmask
# semantics (leftmost arg = MSB, verified by the value-hash).
_B13_BODY = (
    "SELECT o_orderstatus AS status, o_orderpriority AS priority,"
    " CAST({gidfn}(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,"
    " count(*) AS n"
    " FROM orders GROUP BY GROUPING SETS"
    " ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))"
)
B13_SQL = _B13_BODY.format(gidfn="grouping_id")


@query("b13_grouping_sets", oracle=_B13_BODY.format(gidfn="GROUPING"))
def b13_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the general form that rollup (b2) and
    cube (b4) specialize; the set list here (each dim alone + the pair,
    no grand total) is exactly the shape neither of those can express.
    Same Expand + partial-agg plan, 3 projections per row collapsed
    map-side. Issued through spark.sql (the DataFrame API has no
    grouping-sets builder), same text the oracle runs.
    """
    from ..catalog import register_all

    register_all(spark, sf_dir)
    return spark.sql(B13_SQL)


# ---------------------------------------------------------------------------
# B14 — lateral array explode with position (UDTF family: 1 row -> N rows)
# ---------------------------------------------------------------------------

B14_ORACLE = (
    "SELECT p_partkey AS partkey,"
    " CAST(generate_subscripts(w, 1) - 1 AS INT) AS pos,"
    " unnest(w) AS word"
    " FROM (SELECT p_partkey, string_split(p_name, ' ') AS w FROM part)"
)


@query("b14_lateral_posexplode", oracle=B14_ORACLE)
def b14_lateral_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral array explode with ordinal position — the generalized
    form of P4's 1-row->2-rows symmetrize (SURVEY §2.8 calls the UDTF
    shape out as explode). posexplode is a Generate operator: it runs
    inside whole-stage codegen with no shuffle at all — per-partition
    row fan-out, the scan's partitioning is preserved downstream.
    """
    part = load(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("partkey"),
        F.posexplode(F.split("p_name", " ")).alias("pos", "word"),
    )


# ---------------------------------------------------------------------------
# B15 — window navigation family (ntile / percent_rank / cume_dist /
#        first_value / last_value) — completes b3/b7/b12's Window surface
# ---------------------------------------------------------------------------

B15_ORACLE = (
    "SELECT c_custkey AS custkey,"
    " CAST(ntile(4) OVER w AS INT) AS quartile,"
    " CAST(CAST(round(percent_rank() OVER w, 6) AS DECIMAL(18,6)) AS DOUBLE)"
    "  AS pct_rank,"
    " CAST(CAST(round(cume_dist() OVER w, 6) AS DECIMAL(18,6)) AS DOUBLE)"
    "  AS cdist,"
    " first_value(c_custkey) OVER w AS poorest,"
    " last_value(c_custkey) OVER"
    "  (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    "  AS richest"
    " FROM customer"
    " WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)"
)


@query("b15_window_navigation", oracle=B15_ORACLE)
def b15_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation/distribution window functions per nation: quartile
    bucket, percentile position, and the first/last customer by balance.

    One hash shuffle on the partition key, in-partition sort, all five
    functions evaluated in a single Window operator pass. last_value
    needs the explicit unbounded-following frame on BOTH engines (the
    default ORDER BY frame stops at CURRENT ROW and would echo each row
    back). Tie-break on c_custkey makes every output deterministic.
    """
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cust.select(
        F.col("c_custkey").alias("custkey"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6)
        .cast("decimal(18,6)")
        .alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).cast("decimal(18,6)").alias("cdist"),
        F.first("c_custkey").over(w).alias("poorest"),
        F.last("c_custkey").over(wfull).alias("richest"),
    )


# ---------------------------------------------------------------------------
# B16 — ordered string aggregation + FILTER-style conditional aggregates
# ---------------------------------------------------------------------------

B16_ORACLE = (
    "SELECT o_custkey AS custkey,"
    " string_agg(substr(o_orderpriority, 1, 1), ''"
    "  ORDER BY o_orderdate, o_orderkey) AS priority_seq,"
    " CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)"
    "  AS n_filled,"
    " CAST(CAST(round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'),"
    "  2) AS DECIMAL(18,2)) AS DOUBLE) AS open_total"
    " FROM orders GROUP BY o_custkey"
)


@query("b16_ordered_string_agg", oracle=B16_ORACLE)
def b16_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-priority history as an ordered string, plus
    conditional (FILTER-clause) aggregates in the same grouped pass.

    The ordered concat is collect_list(struct(sortkeys, val)) ->
    array_sort -> transform -> array_join: in-group ordering with NO
    global sort and map-side partial collection (same pattern as O1).
    The FILTER aggregates compile to sum(CASE WHEN...) — one shuffle
    total for all three aggregates.
    """
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "o_orderdate",
                            "o_orderkey",
                            F.substring("o_orderpriority", 1, 1).alias("p"),
                        )
                    )
                ),
                lambda s: s["p"],
            ),
            "",
        ).alias("priority_seq"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1))
        .cast("bigint")
        .alias("n_filled"),
        F.round(
            F.sum(
                F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))
            ),
            2,
        )
        .cast("decimal(18,2)")
        .alias("open_total"),
    )


# ---------------------------------------------------------------------------
# B17 — time-bucketed batch aggregation over events (date_trunc family)
# ---------------------------------------------------------------------------

B17_ORACLE = (
    "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,"
    " event_type,"
    " CAST(count(*) AS BIGINT) AS n,"
    " CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,"
    " CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS DOUBLE)"
    "  AS total_value"
    " FROM events GROUP BY date_trunc('hour', ts), event_type"
)


@query("b17_time_bucket_agg", oracle=B17_ORACLE)
def b17_time_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type event stats — the BATCH twin of the streaming
    tumbling window (ss1), over the same events table: date_trunc is
    the tumbling window as a plain deterministic grouping expression.

    count(DISTINCT user_id) rewrites to the two-phase Expand+agg plan
    (partial distinct map-side); at 100 TB swap to approx_count_distinct
    (x2) unless exactness is contractual. Timestamps leave the query as
    formatted strings per the registry convention.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        ),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.round(F.sum("value"), 2).cast("decimal(18,2)").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# B18 — CDC upsert compaction: latest version per key wins
# ---------------------------------------------------------------------------

# The delta batch is synthesized deterministically from orders itself:
# every 7th order arrives again with a new price and status, plus every
# 13th order arrives as a delete tombstone (the classic CDC triple of
# insert/update/delete).
B18_ORACLE = (
    "WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice,"
    "   0 AS version, FALSE AS deleted FROM orders),"
    # the 10% price bump runs in exact DECIMAL on both engines: the
    # source doubles are exact cents, but cents * 1.1 lands on a .xx5
    # float boundary where double rounding is engine-dependent
    " updates AS (SELECT o_orderkey, 'U' AS o_orderstatus,"
    "   CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2)"
    "    AS DOUBLE) AS o_totalprice,"
    "   1 AS version, FALSE AS deleted"
    "   FROM orders WHERE o_orderkey % 7 = 0),"
    " deletes AS (SELECT o_orderkey, o_orderstatus, o_totalprice,"
    "   2 AS version, TRUE AS deleted"
    "   FROM orders WHERE o_orderkey % 13 = 0),"
    " log AS (SELECT * FROM base UNION ALL SELECT * FROM updates"
    "   UNION ALL SELECT * FROM deletes),"
    " latest AS (SELECT *, row_number() OVER"
    "   (PARTITION BY o_orderkey ORDER BY version DESC) AS rn FROM log)"
    " SELECT o_orderkey AS orderkey, o_orderstatus AS status,"
    " CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS DOUBLE)"
    "  AS totalprice,"
    " CAST(version AS INT) AS version"
    " FROM latest WHERE rn = 1 AND NOT deleted"
)


@query("b18_upsert_compaction", oracle=B18_ORACLE)
def b18_upsert_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert as a log compaction: base snapshot + update batch +
    delete tombstones are unioned into one change log, and a
    row_number() window keyed on (key, version DESC) keeps exactly the
    newest surviving row per key — the lakehouse upsert pattern without
    a table format.

    Scale shape: one hash shuffle on the merge key for the window (the
    union itself is shuffle-free); at 100 TB the same plan holds, with
    the base side read partition-pruned to only the files the delta's
    key range touches (see s11's clustering) — deltas are normally tiny
    relative to the snapshot.
    """
    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(0).alias("version"),
        F.lit(False).alias("deleted"),
    )
    updates = orders.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.expr("CAST(1.1 AS DECIMAL(2,1))"),
            2,
        )
        .cast("double")
        .alias("o_totalprice"),
        F.lit(1).alias("version"),
        F.lit(False).alias("deleted"),
    )
    deletes = orders.where(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(2).alias("version"),
        F.lit(True).alias("deleted"),
    )
    log = base.unionAll(updates).unionAll(deletes)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())
    return (
        log.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (~F.col("deleted")))
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderstatus").alias("status"),
            F.round("o_totalprice", 2).cast("decimal(18,2)").alias("totalprice"),
            F.col("version").cast("int").alias("version"),
        )
    )


# ---------------------------------------------------------------------------
# B19 — UNPIVOT / melt (the inverse of b8's pivot)
# ---------------------------------------------------------------------------

B19_ORACLE = (
    "SELECT p_partkey AS partkey, metric, val FROM"
    " (SELECT p_partkey, CAST(p_size AS DOUBLE) AS size,"
    "  p_retailprice AS price FROM part)"
    " UNPIVOT (val FOR metric IN (size, price))"
)


@query("b19_unpivot", oracle=B19_ORACLE)
def b19_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long melt via DataFrame.unpivot — the inverse of b8's
    pivot, closing the reshape pair. Plans as an Expand (2 projections
    per row, same operator family as cube/rollup): narrow, no shuffle,
    fan-out stays inside the scan's partitions.
    """
    part = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"),
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("price"),
    )
    return part.unpivot(
        ids=["partkey"],
        values=["size", "price"],
        variableColumnName="metric",
        valueColumnName="val",
    )


# ---------------------------------------------------------------------------
# B20 — higher-order array functions over embedding vectors
# ---------------------------------------------------------------------------

B20_ORACLE = (
    "SELECT vec_id,"
    " CAST(CAST(round(list_sum(list_transform(embedding,"
    "   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6)"
    "  AS DECIMAL(18,6)) AS DOUBLE) AS l2_sq,"
    " CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,"
    " CAST(CAST(round(list_sum(list_transform(range(1, len(embedding) + 1),"
    "   i -> CAST(embedding[i] AS DOUBLE)"
    "    * CAST(embedding[len(embedding) + 1 - i] AS DOUBLE))), 6)"
    "  AS DECIMAL(18,6)) AS DOUBLE) AS rev_dot"
    " FROM embeddings"
)


@query("b20_array_hof", oracle=B20_ORACLE)
def b20_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions on the embedding column — the
    JVM-side vector math the similarity family builds on, isolated:
    aggregate (fold) for the squared L2 norm, filter+size for the
    positive-component count, zip_with against the reversed vector for
    a dot product. All three run JVM-side (interpreted) over the
    array — no explode (which would fan 64 rows per vector through a
    shuffle at 100 TB), no Python.

    Both engines fold left-to-right in DOUBLE, so the sums are
    bit-identical before the defensive round(6).
    """
    emb = load(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    vd = F.transform(v, lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.round(
            F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x), 6
        )
        .cast("decimal(18,6)")
        .alias("l2_sq"),
        F.size(F.filter(v, lambda x: x > 0)).cast("int").alias("n_pos"),
        F.round(
            F.aggregate(
                F.zip_with(vd, F.reverse(vd), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("rev_dot"),
    )


# ---------------------------------------------------------------------------
# B21 — SCD2 (type-2 slowly changing dimension) build
# ---------------------------------------------------------------------------

B21_ORACLE = (
    "WITH ordered AS (SELECT o_custkey, o_orderpriority, o_orderdate,"
    "   o_orderkey, lag(o_orderpriority) OVER"
    "   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev"
    "  FROM orders),"
    " changes AS (SELECT * FROM ordered"
    "  WHERE prev IS NULL OR prev <> o_orderpriority)"
    " SELECT o_custkey AS custkey, o_orderpriority AS priority,"
    " strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,"
    " strftime(lead(o_orderdate) OVER"
    "   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),"
    "   '%Y-%m-%d %H:%M:%S') AS valid_to,"
    " lead(o_orderdate) OVER"
    "   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL"
    "   AS is_current"
    " FROM changes"
)


@query("b21_scd2_dimension", oracle=B21_ORACLE)
def b21_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build: treat each customer's orders as
    attribute-change events on o_orderpriority, compress consecutive
    runs of the same value (lag), and interval-ize the survivors
    (lead -> valid_from/valid_to half-open ranges, NULL valid_to =
    current row). The standard warehouse dimension-history pattern,
    absent from the reference (no windows at all, SURVEY §2.5).

    Scale shape: two Window passes over the SAME (custkey) partitioning
    and (date, key) ordering — Catalyst reuses one hash shuffle + one
    in-partition sort for both; nothing global. At 100 TB the change
    log is normally delta-sized; the pattern composes with b18's upsert
    compaction for incremental refresh.
    """
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        orders.withColumn("prev", F.lag("o_orderpriority").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority")))
    )
    wc = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    valid_to = F.lead("o_orderdate").over(wc)
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(valid_to, "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# B23 — batch sessionization (gaps-and-islands)
# ---------------------------------------------------------------------------

B23_ORACLE = (
    "WITH marked AS (SELECT user_id, ts, event_id,"
    "  CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800"
    "   OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session"
    "  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),"
    " sess AS (SELECT user_id, ts,"
    "  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id"
    "  FROM marked)"
    " SELECT user_id, CAST(session_id AS BIGINT) AS session_id,"
    " CAST(count(*) AS BIGINT) AS n_events,"
    " strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,"
    " strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end"
    " FROM sess GROUP BY user_id, session_id"
)


@query("b23_sessionize", oracle=B23_ORACLE)
def b23_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via gaps-and-islands: a session breaks when
    the same user pauses >30 min; cumulative sum of break flags numbers
    the sessions. The batch twin of ss3's streaming session_window
    (whose parity test uses this same shape), registered so the
    warehouse-side pattern is oracle-checked in its own right.

    Scale shape: both Window passes share ONE (user_id) hash shuffle +
    one in-partition sort — same reuse Catalyst applies in b21 — then a
    grouped agg on (user_id, session_id), which is a prefix of the
    existing ordering. No global sort anywhere. Epoch math goes via
    session-TZ TIMESTAMP (UTC-pinned) because events.ts is NTZ.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("timestamp").cast("long")
    prev = F.lag(sec).over(w)
    marked = ev.withColumn(
        "new_session",
        F.when(prev.isNull() | (sec - prev > 1800), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# B24 — incremental aggregate maintenance (mergeable partial states)
# ---------------------------------------------------------------------------

B24_ORACLE = (
    "SELECT o_custkey AS custkey,"
    " CAST(count(*) AS BIGINT) AS n_orders,"
    " CAST(CAST(round(sum(o_totalprice), 2) AS DECIMAL(18,2)) AS DOUBLE)"
    "  AS total,"
    " CAST(CAST(round(max(o_totalprice), 2) AS DECIMAL(18,2)) AS DOUBLE)"
    "  AS max_price"
    " FROM orders GROUP BY o_custkey"
)


@query("b24_incremental_agg_merge", oracle=B24_ORACLE)
def b24_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate refresh: the snapshot half of
    orders is pre-aggregated into mergeable partial states
    (count/sum/max per customer), the delta half is aggregated the same
    way, and the refreshed aggregate is a FULL OUTER merge of the two
    state tables — the snapshot's raw rows are never rescanned. The
    oracle recomputes from scratch over all of orders, proving
    merge(partial(A), partial(B)) == aggregate(A ∪ B).

    This is how a 100 TB rolling aggregate stays cheap: the delta is
    days, the snapshot is years, and refresh cost is O(delta) + one
    key-aligned merge of two aggregate tables (both already grouped, so
    AQE can broadcast the delta states when the delta is small).
    count/sum/min/max compose this way; avg = merged sum / merged
    count; for distinct counts swap in HLL sketch states (x2).
    """
    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit("1996-01-01").cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
            F.max(F.col("o_totalprice").cast("decimal(18,2)")).alias("m"),
        )

    snap = partials(orders.where(F.col("o_orderdate") < cutoff))
    delta = partials(orders.where(F.col("o_orderdate") >= cutoff))
    merged = snap.alias("a").join(
        delta.alias("b"), on="custkey", how="full_outer"
    )
    z = F.lit(0).cast("decimal(18,2)")
    return merged.select(
        "custkey",
        (
            F.coalesce(F.col("a.n_orders"), F.lit(0))
            + F.coalesce(F.col("b.n_orders"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_orders"),
        F.round(F.coalesce(F.col("a.s"), z) + F.coalesce(F.col("b.s"), z), 2)
        .cast("decimal(18,2)")
        .alias("total"),
        F.round(
            F.greatest(
                F.coalesce(F.col("a.m"), F.col("b.m")),
                F.coalesce(F.col("b.m"), F.col("a.m")),
            ),
            2,
        )
        .cast("decimal(18,2)")
        .alias("max_price"),
    )


# ---------------------------------------------------------------------------
# SQL1 — TPC-H Q1 as ONE SQL text accepted verbatim by both engines
# ---------------------------------------------------------------------------

# The string below is passed UNCHANGED to spark.sql() and to DuckDB —
# the portability contract a user migrating SQL between the engines
# cares about. Constraints that keep it dual-dialect: ANSI date
# literal, CAST(... AS DOUBLE) wrappers (no ::), count(*) cast to
# BIGINT (DuckDB counts are HUGEINT-free but explicit is identical),
# no engine-specific functions.
SQL1_SHARED_TEXT = (
    "SELECT l_returnflag, l_linestatus,"
    " CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,"
    " CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,"
    " CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)"
    "  AS sum_disc_price,"
    " CAST(round(avg(l_quantity), 6) AS DOUBLE) AS avg_qty,"
    " CAST(round(avg(l_discount), 6) AS DOUBLE) AS avg_disc,"
    " CAST(count(*) AS BIGINT) AS count_order"
    " FROM lineitem"
    " WHERE l_shipdate <= DATE '1998-09-02'"
    " GROUP BY l_returnflag, l_linestatus"
)


@query("sql1_tpch_q1_shared_text", oracle=SQL1_SHARED_TEXT)
def sql1_tpch_q1_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary) with ONE SQL string executed verbatim
    on both engines: Spark runs ``spark.sql(SQL1_SHARED_TEXT)`` over
    registered views, DuckDB runs the identical text as the oracle —
    like b22, the check is that the portable-SQL surface really is
    portable, not a hand-matched pair of dialects.

    Caveat honestly noted: double sums are order-dependent, so this
    relies on round(x, 2) absorbing the accumulation-order noise of
    these ~1e9-magnitude sums at check scale. The engine's own
    flagship/b-family queries use exact DECIMAL accumulation instead —
    that is the recommended pattern; this query's job is dialect
    portability.
    """
    from ..catalog import register_all

    register_all(spark, sf_dir)
    return spark.sql(SQL1_SHARED_TEXT)


# ---------------------------------------------------------------------------
# SQL2-4 — TPC-H Q3/Q5/Q10 shapes, same shared-text contract as SQL1
# ---------------------------------------------------------------------------

# Adaptations to the synthetic schema, noted per query; date constants
# sit inside the generated o_orderdate range (1995..2001). No ORDER BY/
# LIMIT — top-N with ties is nondeterministic across engines and the
# driver's comparison is order-insensitive anyway.

# Q3 (shipping priority): o_shippriority doesn't exist in the synthetic
# orders table; o_orderpriority stands in. Same join/filter/agg shape.
SQL2_SHARED_TEXT = (
    "SELECT l_orderkey, o_orderdate, o_orderpriority,"
    " CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)"
    "  AS revenue"
    " FROM customer"
    " JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " WHERE c_mktsegment = 'BUILDING'"
    " AND o_orderdate < DATE '1997-03-15'"
    " AND l_shipdate > DATE '1997-03-15'"
    " GROUP BY l_orderkey, o_orderdate, o_orderpriority"
)

# Q5 (local supplier volume): verbatim shape incl. the c_nationkey =
# s_nationkey "local supplier" condition.
SQL3_SHARED_TEXT = (
    "SELECT n_name,"
    " CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)"
    "  AS revenue"
    " FROM customer"
    " JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " WHERE r_name = 'ASIA'"
    " AND o_orderdate >= DATE '1996-01-01'"
    " AND o_orderdate < DATE '1997-01-01'"
    " GROUP BY n_name"
)

# Q10 (returned-item reporting): c_phone/c_address/c_comment don't
# exist in the synthetic customer table; the remaining output columns
# and the R-flag quarter window are verbatim.
SQL4_SHARED_TEXT = (
    "SELECT c_custkey, c_name,"
    " CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)"
    "  AS revenue,"
    " CAST(round(c_acctbal, 2) AS DOUBLE) AS acctbal, n_name"
    " FROM customer"
    " JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " JOIN nation ON c_nationkey = n_nationkey"
    " WHERE o_orderdate >= DATE '1997-10-01'"
    " AND o_orderdate < DATE '1998-01-01'"
    " AND l_returnflag = 'R'"
    " GROUP BY c_custkey, c_name, c_acctbal, n_name"
)


def _shared_text_query(sql: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..catalog import register_all

        register_all(spark, sf_dir)
        return spark.sql(sql)

    return run


@query("sql2_tpch_q3_shared_text", oracle=SQL2_SHARED_TEXT)
def sql2_tpch_q3_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) as one SQL string executed verbatim
    by Spark and DuckDB (see SQL1 for the portability contract). Plan:
    customer is the small side (broadcast), orders⋈lineitem is the
    fact⋈fact edge with both date filters pushed to the scans."""
    return _shared_text_query(SQL2_SHARED_TEXT)(spark, sf_dir)


@query("sql3_tpch_q5_shared_text", oracle=SQL3_SHARED_TEXT)
def sql3_tpch_q5_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume), shared-text contract. The
    six-table join exercises Catalyst's join reordering: region/nation/
    supplier broadcast, the year filter prunes orders at the scan, and
    the c_nationkey = s_nationkey condition rides the supplier join."""
    return _shared_text_query(SQL3_SHARED_TEXT)(spark, sf_dir)


@query("sql4_tpch_q10_shared_text", oracle=SQL4_SHARED_TEXT)
def sql4_tpch_q10_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned items), shared-text contract. Quarter window
    + R-flag filters pushed down; nation broadcast; the wide customer
    grouping keys flow through one hash aggregate."""
    return _shared_text_query(SQL4_SHARED_TEXT)(spark, sf_dir)


# ---------------------------------------------------------------------------
# SQL5-10 — TPC-H Q6/Q14/Q17/Q18/Q19/Q22 shapes, shared-text contract
# ---------------------------------------------------------------------------

# Adaptations to the synthetic schema: the tables lack l_commitdate/
# l_receiptdate/l_shipmode/partsupp, so Q12 and the partsupp family
# are not expressible (Q4/Q21 substitute a marker predicate — see
# SQL11-16 below); the six here are, with noted tweaks. Ratio
# queries (Q14) cast the exact DECIMAL sums to DOUBLE before dividing —
# decimal-division result scale is an engine-specific choice, IEEE
# double division is not.

# Q6 (forecasting revenue change): verbatim shape; the synthetic
# discounts carry 2 decimals, so DECIMAL(18,2) is exact.
SQL5_SHARED_TEXT = (
    "SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,"
    " CAST(count(*) AS BIGINT) AS n_items"
    " FROM lineitem"
    " WHERE l_shipdate >= DATE '1996-01-01'"
    " AND l_shipdate < DATE '1997-01-01'"
    " AND l_discount BETWEEN 0.05 AND 0.07"
    " AND l_quantity < 24"
)

# Q14 (promotion effect): synthetic p_type is a flat category, so
# p_type = 'PROMO' replaces LIKE 'PROMO%'. One month's window.
SQL6_SHARED_TEXT = (
    "SELECT CAST(round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'"
    " THEN CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2))) ELSE 0 END) AS DOUBLE)"
    " / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6)"
    " AS DOUBLE) AS promo_revenue_pct"
    " FROM lineitem JOIN part ON l_partkey = p_partkey"
    " WHERE l_shipdate >= DATE '1997-09-01'"
    " AND l_shipdate < DATE '1997-10-01'"
)

# Q17 (small-quantity-order revenue): the correlated scalar aggregate
# subquery is the point. Synthetic quantities are uniform 1..50, so the
# original 0.2*avg cutoff selects nothing; 0.5*avg keeps the shape with
# a non-trivial answer.
SQL7_SHARED_TEXT = (
    "SELECT CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))"
    " AS DOUBLE) / 7.0, 2) AS DOUBLE) AS avg_yearly"
    " FROM lineitem JOIN part ON p_partkey = l_partkey"
    " WHERE p_brand = 'Brand#1'"
    " AND l_quantity < (SELECT 0.5 * avg(l_quantity)"
    "  FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"
)

# Q18 (large-volume customers): IN over a GROUP BY/HAVING subquery.
# Threshold 200 keeps ~1.5% of orders at every SF (sum of ~12 uniform
# 1..50 quantities). No ORDER BY/LIMIT — order-insensitive contract.
SQL8_SHARED_TEXT = (
    "SELECT c_custkey, c_name, o_orderkey, o_orderdate,"
    " CAST(round(o_totalprice, 2) AS DOUBLE) AS totalprice,"
    " CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty"
    " FROM customer"
    " JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON o_orderkey = l_orderkey"
    " WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem"
    "  GROUP BY l_orderkey HAVING sum(l_quantity) > 200)"
    " GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice"
)

# Q19 (discounted revenue): disjunction of brand/size/quantity bands —
# the OR-of-ANDs must stay a single join with a residual predicate, not
# three unioned scans. Brands picked from the synthetic domain.
SQL9_SHARED_TEXT = (
    "SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)"
    "  AS revenue"
    " FROM lineitem JOIN part ON p_partkey = l_partkey"
    " WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15"
    "   AND l_quantity BETWEEN 1 AND 11)"
    " OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 25"
    "   AND l_quantity BETWEEN 10 AND 20)"
    " OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35"
    "   AND l_quantity BETWEEN 20 AND 30)"
)

# Q22 (global sales opportunity): synthetic customers all have orders
# and no phone column, so "dormant high-balance customers" keeps both
# interesting shapes — an uncorrelated scalar subquery threshold and a
# correlated NOT EXISTS (anti-join) — with non-trivial output.
SQL10_SHARED_TEXT = (
    "SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,"
    " CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)"
    "  AS totacctbal"
    " FROM customer JOIN nation ON c_nationkey = n_nationkey"
    " WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer"
    "  WHERE c_acctbal > 0)"
    " AND NOT EXISTS (SELECT 1 FROM orders"
    "  WHERE o_custkey = c_custkey"
    "  AND o_orderdate >= DATE '2000-01-01')"
    " GROUP BY n_name"
)


@query("sql5_tpch_q6_shared_text", oracle=SQL5_SHARED_TEXT)
def sql5_tpch_q6_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change), shared-text contract.
    Single-table scan-heavy probe: all three predicates reach the
    parquet reader as PushedFilters; the aggregate is a one-row global
    partial+final sum — at 100 TB this query is pure scan bandwidth."""
    return _shared_text_query(SQL5_SHARED_TEXT)(spark, sf_dir)


@query("sql6_tpch_q14_shared_text", oracle=SQL6_SHARED_TEXT)
def sql6_tpch_q14_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect), shared-text contract. part is
    broadcast; the month filter prunes lineitem at the scan; the
    conditional/unconditional sums ride one aggregate pass."""
    return _shared_text_query(SQL6_SHARED_TEXT)(spark, sf_dir)


@query("sql7_tpch_q17_shared_text", oracle=SQL7_SHARED_TEXT)
def sql7_tpch_q17_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity orders), shared-text contract. The
    correlated scalar subquery decorrelates to an aggregate-then-join
    in both engines: per-part avg quantity built once, joined back —
    never a per-row re-scan of lineitem."""
    return _shared_text_query(SQL7_SHARED_TEXT)(spark, sf_dir)


@query("sql8_tpch_q18_shared_text", oracle=SQL8_SHARED_TEXT)
def sql8_tpch_q18_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers), shared-text contract. The
    HAVING subquery becomes a semi-join of orders against pre-aggregated
    lineitem quantities; the surviving ~1.5% of orders then drive the
    customer join — filter-early order is Catalyst's, not hand-coded."""
    return _shared_text_query(SQL8_SHARED_TEXT)(spark, sf_dir)


@query("sql9_tpch_q19_shared_text", oracle=SQL9_SHARED_TEXT)
def sql9_tpch_q19_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue), shared-text contract. One
    broadcast hash join on p_partkey with the OR-of-ANDs as a residual
    filter — the disjunction must not triplicate the lineitem scan."""
    return _shared_text_query(SQL9_SHARED_TEXT)(spark, sf_dir)


@query("sql10_tpch_q22_shared_text", oracle=SQL10_SHARED_TEXT)
def sql10_tpch_q22_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (dormant high-balance customers), shared-text
    contract: an uncorrelated scalar-subquery threshold (computed once,
    broadcast as a literal) plus a correlated NOT EXISTS that plans as
    a left-anti join against the date-pruned orders scan."""
    return _shared_text_query(SQL10_SHARED_TEXT)(spark, sf_dir)


# ---------------------------------------------------------------------------
# SQL11-16 — TPC-H Q4/Q7/Q8/Q13/Q15/Q21 shapes, shared-text contract
# ---------------------------------------------------------------------------

# With these six the engine covers every TPC-H query expressible on the
# synthetic tables: Q2/Q9/Q11/Q16/Q20 need partsupp (absent), Q12 needs
# l_shipmode/l_commitdate/l_receiptdate (absent). Q4 and Q21's lateness
# predicate (l_commitdate < l_receiptdate) is likewise absent, so both
# substitute l_returnflag = 'R' as the per-lineitem "problem" marker —
# the correlated EXISTS / NOT EXISTS structure, which is what those
# queries exercise, is verbatim.

# Q4 (order priority checking): correlated EXISTS semi-join from orders
# into lineitem, quarter window, count by priority.
SQL11_SHARED_TEXT = (
    "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count"
    " FROM orders"
    " WHERE o_orderdate >= DATE '1997-07-01'"
    " AND o_orderdate < DATE '1997-10-01'"
    " AND EXISTS (SELECT 1 FROM lineitem"
    "  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')"
    " GROUP BY o_orderpriority"
)

# Q7 (volume shipping): verbatim shape — two nation aliases joined on
# opposite sides, symmetric pair disjunction, per-year revenue.
# EXTRACT(YEAR ...) is cast to INTEGER explicitly: DuckDB's EXTRACT
# yields BIGINT, Spark's INT — the cast makes the shared text carry one
# schema.
SQL12_SHARED_TEXT = (
    "SELECT supp_nation, cust_nation, l_year,"
    " CAST(round(sum(volume), 2) AS DOUBLE) AS revenue"
    " FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,"
    "  CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,"
    "  CAST(l_extendedprice AS DECIMAL(18,2))"
    "  * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume"
    "  FROM supplier"
    "  JOIN lineitem ON s_suppkey = l_suppkey"
    "  JOIN orders ON o_orderkey = l_orderkey"
    "  JOIN customer ON c_custkey = o_custkey"
    "  JOIN nation n1 ON s_nationkey = n1.n_nationkey"
    "  JOIN nation n2 ON c_nationkey = n2.n_nationkey"
    "  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')"
    "   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))"
    "  AND l_shipdate >= DATE '1996-01-01'"
    "  AND l_shipdate <= DATE '1997-12-31') shipping"
    " GROUP BY supp_nation, cust_nation, l_year"
)

# Q8 (national market share): the widest join in the suite — 8 tables,
# nation joined twice on different sides (customer-side for the region
# filter, supplier-side for the share CASE). Ratio computed in DOUBLE
# (decimal-division result scale is engine-specific, IEEE is not).
SQL13_SHARED_TEXT = (
    "SELECT o_year,"
    " CAST(round(CAST(sum(CASE WHEN nation = 'NATION_1' THEN volume"
    " ELSE 0 END) AS DOUBLE)"
    " / CAST(sum(volume) AS DOUBLE), 6) AS DOUBLE) AS mkt_share"
    " FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,"
    "  CAST(l_extendedprice AS DECIMAL(18,2))"
    "  * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,"
    "  n2.n_name AS nation"
    "  FROM part"
    "  JOIN lineitem ON p_partkey = l_partkey"
    "  JOIN supplier ON s_suppkey = l_suppkey"
    "  JOIN orders ON l_orderkey = o_orderkey"
    "  JOIN customer ON o_custkey = c_custkey"
    "  JOIN nation n1 ON c_nationkey = n1.n_nationkey"
    "  JOIN region ON n1.n_regionkey = r_regionkey"
    "  JOIN nation n2 ON s_nationkey = n2.n_nationkey"
    "  WHERE r_name = 'AMERICA'"
    "  AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'"
    "  AND p_type = 'ECONOMY') all_nations"
    " GROUP BY o_year"
)

# Q13 (customer distribution): LEFT OUTER JOIN with a non-key predicate
# in the ON clause (must NOT be pushed below the join — customers with
# only urgent orders count as 0, not disappear), then a distribution-of-
# counts double aggregate.
SQL14_SHARED_TEXT = (
    "SELECT c_count, CAST(count(*) AS BIGINT) AS custdist"
    " FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count"
    "  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey"
    "  AND o_orderpriority <> '1-URGENT'"
    "  GROUP BY c_custkey) c_orders"
    " GROUP BY c_count"
)

# Q15 (top supplier): a CTE referenced twice — once as the join input,
# once inside the scalar MAX subquery. The equality predicate on the
# exact DECIMAL revenue is engine-portable; a DOUBLE version would not
# be (accumulation order).
SQL15_SHARED_TEXT = (
    "WITH revenue AS (SELECT l_suppkey AS supplier_no,"
    " sum(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue"
    " FROM lineitem"
    " WHERE l_shipdate >= DATE '1997-01-01'"
    " AND l_shipdate < DATE '1997-04-01'"
    " GROUP BY l_suppkey)"
    " SELECT s_suppkey, s_name,"
    " CAST(round(total_revenue, 2) AS DOUBLE) AS total_revenue"
    " FROM supplier JOIN revenue ON s_suppkey = supplier_no"
    " WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)"
)

# Q21 (suppliers who kept orders waiting): the double-correlated
# pattern — EXISTS (another supplier in the order) AND NOT EXISTS
# (another supplier also flagged) — i.e. "the only supplier at fault
# in a multi-supplier order".
SQL16_SHARED_TEXT = (
    "SELECT s_name, CAST(count(*) AS BIGINT) AS numwait"
    " FROM supplier"
    " JOIN lineitem l1 ON s_suppkey = l1.l_suppkey"
    " JOIN orders ON o_orderkey = l1.l_orderkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'"
    " AND n_name = 'NATION_3'"
    " AND EXISTS (SELECT 1 FROM lineitem l2"
    "  WHERE l2.l_orderkey = l1.l_orderkey"
    "  AND l2.l_suppkey <> l1.l_suppkey)"
    " AND NOT EXISTS (SELECT 1 FROM lineitem l3"
    "  WHERE l3.l_orderkey = l1.l_orderkey"
    "  AND l3.l_suppkey <> l1.l_suppkey"
    "  AND l3.l_returnflag = 'R')"
    " GROUP BY s_name"
)


@query("sql11_tpch_q4_shared_text", oracle=SQL11_SHARED_TEXT)
def sql11_tpch_q4_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), shared-text contract. The
    correlated EXISTS plans as a left semi-join of the quarter-pruned
    orders scan against the R-flagged lineitem scan; at 100 TB the
    flag filter prunes lineitem to a third before the shuffle."""
    return _shared_text_query(SQL11_SHARED_TEXT)(spark, sf_dir)


@query("sql12_tpch_q7_shared_text", oracle=SQL12_SHARED_TEXT)
def sql12_tpch_q7_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping), shared-text contract. nation is
    joined twice (supplier side, customer side); the symmetric-pair
    disjunction survives as a residual predicate after both broadcast
    joins rather than unioning two scans."""
    return _shared_text_query(SQL12_SHARED_TEXT)(spark, sf_dir)


@query("sql13_tpch_q8_shared_text", oracle=SQL13_SHARED_TEXT)
def sql13_tpch_q8_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share), shared-text contract. Eight
    tables: every dimension (part, supplier, customer, nation x2,
    region) broadcasts; lineitem⋈orders is the one shuffle edge and the
    two-year window prunes orders at the scan."""
    return _shared_text_query(SQL13_SHARED_TEXT)(spark, sf_dir)


@query("sql14_tpch_q13_shared_text", oracle=SQL14_SHARED_TEXT)
def sql14_tpch_q13_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution), shared-text contract. The
    outer join keeps zero-order customers (the ON-clause predicate must
    not become a WHERE); the second aggregate is tiny (distinct counts),
    so the plan is one shuffle on c_custkey then a near-free regroup."""
    return _shared_text_query(SQL14_SHARED_TEXT)(spark, sf_dir)


@query("sql15_tpch_q15_shared_text", oracle=SQL15_SHARED_TEXT)
def sql15_tpch_q15_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier), shared-text contract. The revenue CTE
    aggregates lineitem once per reference; the scalar MAX collapses to
    a one-row broadcast compared against the joined side. Equality on
    exact DECIMAL keeps the predicate engine-portable."""
    return _shared_text_query(SQL15_SHARED_TEXT)(spark, sf_dir)


@query("sql16_tpch_q21_shared_text", oracle=SQL16_SHARED_TEXT)
def sql16_tpch_q21_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (sole supplier at fault), shared-text contract.
    The EXISTS becomes a left semi-join and the NOT EXISTS a left
    anti-join, both on l_orderkey with non-equal-supplier residuals —
    three passes over lineitem, each pruned at the scan."""
    return _shared_text_query(SQL16_SHARED_TEXT)(spark, sf_dir)


# Q12 (shipping modes & order priority): l_shipmode/l_commitdate/
# l_receiptdate don't exist in the synthetic lineitem; l_returnflag
# stands in for the mode pair and "late" = shipped more than 60 days
# after the order date. The signature shape — fact⋈fact join with the
# lateness predicate and the two CASE-counted priority classes — is
# verbatim.
SQL17_SHARED_TEXT = (
    "SELECT l_returnflag AS shipmode,"
    " CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
    "  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,"
    " CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')"
    "  THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count"
    " FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
    " WHERE l_returnflag IN ('R', 'A')"
    " AND l_shipdate > o_orderdate + INTERVAL 60 DAY"
    " AND l_shipdate >= DATE '1997-01-01'"
    " AND l_shipdate < DATE '1998-01-01'"
    " GROUP BY l_returnflag"
)


@query("sql17_tpch_q12_shared_text", oracle=SQL17_SHARED_TEXT)
def sql17_tpch_q12_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping priority classes) as one SQL string executed
    verbatim by both engines — completes the partsupp-free TPC-H set.
    (Q2/Q9/Q11/Q16/Q20 need the partsupp table the synthetic schema
    doesn't have; sql18-sql22 carry those five shapes over a
    lineitem-derived supply relation — the full 22-query suite.)
    Plan: both date filters push to the lineitem scan; the lateness
    predicate is a join residual on the shuffled fact⋈fact edge;
    CASE-count pairs collapse map-side."""
    return _shared_text_query(SQL17_SHARED_TEXT)(spark, sf_dir)


# ---------------------------------------------------------------------------
# SQL18-22 — the five partsupp TPC-H shapes (Q2/Q9/Q11/Q16/Q20) over a
# DERIVED supply relation, completing the 22-query suite. The synthetic
# schema has no partsupp table, so each query derives the
# (part, supplier) relationship from lineitem — distinct pairs as the
# catalog, min observed unit price as ps_supplycost — and notes the
# adaptation (the Q3 o_shippriority precedent). Shapes, subquery
# structure, and determinism devices are TPC-H's: correlated scalar
# min (Q2), profit expression per nation/year (Q9), HAVING vs a
# global-fraction scalar (Q11), NOT-IN anti relation count (Q16),
# nested IN with a half-of-sum threshold (Q20). Comparisons that gate
# rows run on exact arithmetic (DECIMAL sums; IEEE-identical double
# division for min-cost) so both engines admit identical row sets;
# rounding happens only in the projected output.
# ---------------------------------------------------------------------------

SQL18_SHARED_TEXT = (
    # Q2: min-cost supplier per part in a region. ps_supplycost :=
    # min unit price ever observed for the (part, supplier) pair.
    "WITH supply AS (SELECT l_partkey AS ps_partkey,"
    "  l_suppkey AS ps_suppkey,"
    "  min(CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE))"
    "   AS ps_supplycost"
    "  FROM lineitem GROUP BY l_partkey, l_suppkey)"
    " SELECT CAST(round(s_acctbal, 2) AS DOUBLE) AS s_acctbal, s_name,"
    "  n_name, p_partkey, p_brand,"
    "  CAST(round(ps.ps_supplycost, 6) AS DOUBLE) AS supplycost"
    " FROM part"
    " JOIN supply ps ON p_partkey = ps.ps_partkey"
    " JOIN supplier ON s_suppkey = ps.ps_suppkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " WHERE p_size = 15 AND p_type = 'ECONOMY' AND r_name = 'AMERICA'"
    " AND ps.ps_supplycost = ("
    "  SELECT min(ps2.ps_supplycost) FROM supply ps2"
    "  JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey"
    "  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey"
    "  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey"
    "  WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'AMERICA')"
)


@query("sql18_tpch_q2_shared_text", oracle=SQL18_SHARED_TEXT)
def sql18_tpch_q2_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier) over the derived supply
    relation. The correlated scalar subquery recomputes the regional
    minimum per part; Spark decorrelates it into an aggregate +
    self-join, DuckDB into a delim join — the equality gate runs on
    the SAME IEEE double both engines derived, so the admitted row
    sets match exactly. Region/size/type constants adapted to the
    synthetic domains."""
    return _shared_text_query(SQL18_SHARED_TEXT)(spark, sf_dir)


SQL19_SHARED_TEXT = (
    # Q9: product-type profit by nation and year. supplycost rounded
    # to DECIMAL(18,6) once, so the profit sum is exact/order-free.
    "WITH supply AS (SELECT l_partkey AS ps_partkey,"
    "  l_suppkey AS ps_suppkey,"
    "  CAST(round(min(CAST(l_extendedprice AS DOUBLE)"
    "   / CAST(l_quantity AS DOUBLE)), 6) AS DECIMAL(18,6))"
    "   AS ps_supplycost"
    "  FROM lineitem GROUP BY l_partkey, l_suppkey)"
    " SELECT n_name AS nation,"
    "  CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,"
    "  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
    "   * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    "   - ps_supplycost * CAST(l_quantity AS DECIMAL(18,2))), 2)"
    "   AS DOUBLE) AS sum_profit"
    " FROM lineitem"
    " JOIN part ON p_partkey = l_partkey"
    " JOIN supply ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey"
    " JOIN supplier ON s_suppkey = l_suppkey"
    " JOIN orders ON o_orderkey = l_orderkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " WHERE p_name LIKE '%red%'"
    " GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)"
)


@query("sql19_tpch_q9_shared_text", oracle=SQL19_SHARED_TEXT)
def sql19_tpch_q9_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit) — the 6-table star with the
    profit expression, grouped by supplier nation x order year. The
    derived supplycost is frozen to DECIMAL(18,6) before entering the
    sum so the whole profit aggregate is exact decimal arithmetic:
    partial-agg order cannot move a digit in either engine."""
    return _shared_text_query(SQL19_SHARED_TEXT)(spark, sf_dir)


SQL20_SHARED_TEXT = (
    # Q11: important stock. value := revenue per part from NATION_1
    # suppliers; keep parts above a fraction of the national total.
    "WITH v AS (SELECT l_partkey,"
    "  sum(CAST(l_extendedprice AS DECIMAL(18,2))"
    "   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS val"
    "  FROM lineitem"
    "  JOIN supplier ON s_suppkey = l_suppkey"
    "  JOIN nation ON s_nationkey = n_nationkey"
    "  WHERE n_name = 'NATION_1' GROUP BY l_partkey)"
    " SELECT l_partkey AS ps_partkey,"
    "  CAST(round(val, 2) AS DOUBLE) AS part_value"
    " FROM v WHERE val > (SELECT sum(val) * 0.0005 FROM v)"
)


@query("sql20_tpch_q11_shared_text", oracle=SQL20_SHARED_TEXT)
def sql20_tpch_q11_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification): per-part value vs a
    global-fraction scalar subquery. Both the per-part values and the
    threshold are exact DECIMAL sums of identical terms, so the strict
    > gate admits the same parts in both engines — no epsilon games."""
    return _shared_text_query(SQL20_SHARED_TEXT)(spark, sf_dir)


SQL21_SHARED_TEXT = (
    # Q16: parts/supplier relationship. Catalog := distinct
    # (part, supplier) pairs from lineitem; 'complaint' suppliers
    # excluded by NOT IN on a name pattern.
    "SELECT p_brand, p_type, p_size,"
    " CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt"
    " FROM (SELECT DISTINCT l_partkey AS ps_partkey,"
    "   l_suppkey AS ps_suppkey FROM lineitem) ps"
    " JOIN part ON p_partkey = ps_partkey"
    " WHERE p_brand <> 'Brand#1'"
    " AND p_type NOT IN ('PROMO', 'SMALL')"
    " AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)"
    " AND ps_suppkey NOT IN"
    "  (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%007%')"
    " GROUP BY p_brand, p_type, p_size"
)


@query("sql21_tpch_q16_shared_text", oracle=SQL21_SHARED_TEXT)
def sql21_tpch_q16_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): distinct-supplier
    counts per (brand, type, size) with the NOT-IN complaint
    exclusion. Spark plans the NOT IN as a null-aware anti join
    (s_suppkey is non-null so it degenerates to a plain anti);
    count(DISTINCT) runs as the standard two-phase expand."""
    return _shared_text_query(SQL21_SHARED_TEXT)(spark, sf_dir)


SQL22_SHARED_TEXT = (
    # Q20: potential part promotion. availqty := the (supp, part)
    # pair's all-time shipped quantity; the promotion gate keeps
    # suppliers who moved more than half of it inside 1997.
    "SELECT s_name, CAST(round(s_acctbal, 2) AS DOUBLE) AS s_acctbal"
    " FROM supplier JOIN nation ON s_nationkey = n_nationkey"
    " WHERE n_name = 'NATION_2' AND s_suppkey IN ("
    "  SELECT l_suppkey FROM lineitem"
    "  JOIN part ON p_partkey = l_partkey"
    "  WHERE p_name LIKE 'red%'"
    "  GROUP BY l_suppkey, l_partkey"
    "  HAVING sum(CASE WHEN l_shipdate >= DATE '1997-01-01'"
    "   AND l_shipdate < DATE '1998-01-01'"
    "   THEN l_quantity ELSE 0 END) > 0.5 * sum(l_quantity))"
)


@query("sql22_tpch_q20_shared_text", oracle=SQL22_SHARED_TEXT)
def sql22_tpch_q20_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): the nested IN subquery
    with a half-of-total HAVING gate. Quantities are integral doubles
    summed exactly (< 2^53), so the threshold comparison is
    deterministic in both engines; the IN materializes as a left-semi
    join onto the supplier dimension."""
    return _shared_text_query(SQL22_SHARED_TEXT)(spark, sf_dir)


# ---------------------------------------------------------------------------
# B25 — running distinct count over a window (no DISTINCT-OVER in Spark)
# ---------------------------------------------------------------------------

B25_ORACLE = (
    "SELECT event_id, event_type,"
    " CAST(count(DISTINCT user_id) OVER"
    "  (PARTITION BY event_type ORDER BY ts) AS BIGINT)"
    "  AS running_distinct_users"
    " FROM events"
)


@query("b25_running_distinct", oracle=B25_ORACLE)
def b25_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered window — an operator
    Spark's window functions don't offer (no DISTINCT aggregates OVER)
    and the naive emulation (`size(collect_set() OVER ...)`) buys at
    the cost of materializing the full distinct set per row, O(n·d)
    memory in a single window partition. The scale-safe form used here
    is the first-occurrence-flag trick: within each event_type sort by
    (user_id, ts) and lag-mark each user's first row, then re-sort by
    ts and take a running RANGE-framed sum of the flags. A user is
    counted at ts T iff their earliest event is ≤ T iff they have any
    event ≤ T — exactly COUNT(DISTINCT) over the default RANGE frame
    (same-ts peers included), which is what the oracle computes
    natively. Both windows share the event_type hash partitioning, so
    Catalyst plans ONE exchange with two in-partition sorts — per-key
    state is O(1), not O(distinct users)."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "user_id"
    )
    w_user = Window.partitionBy("event_type").orderBy(
        "user_id", "ts", "event_id"
    )
    prev = F.lag("user_id").over(w_user)
    flagged = ev.withColumn(
        "first_flag",
        F.when(prev.isNull() | (prev != F.col("user_id")), 1).otherwise(0),
    )
    w_run = Window.partitionBy("event_type").orderBy("ts")
    return flagged.select(
        "event_id",
        "event_type",
        F.sum("first_flag")
        .over(w_run)
        .cast("bigint")
        .alias("running_distinct_users"),
    )


B26_ORACLE = (
    "WITH seqs AS (SELECT user_id,"
    "  list_transform(list_sort(list_zip(list(ts), list(event_id),"
    "   list(event_type))), z -> z[3]) AS seq"
    "  FROM events GROUP BY user_id),"
    " pos AS (SELECT user_id, seq,"
    "  list_position(seq, 'view') AS pv FROM seqs),"
    " pos2 AS (SELECT user_id, seq, pv,"
    "  CASE WHEN pv IS NOT NULL THEN"
    "   list_position(seq[pv+1:], 'click') + pv END AS pc FROM pos),"
    " pos3 AS (SELECT user_id, pv, pc,"
    "  CASE WHEN pc IS NOT NULL THEN"
    "   list_position(seq[pc+1:], 'purchase') + pc END AS pp FROM pos2)"
    " SELECT user_id,"
    " CAST(CASE WHEN pp IS NOT NULL THEN 3 WHEN pc IS NOT NULL THEN 2"
    "  WHEN pv IS NOT NULL THEN 1 ELSE 0 END AS INT) AS funnel_stage,"
    " pp IS NOT NULL AS converted"
    " FROM pos3"
)


@query("b26_funnel_stages", oracle=B26_ORACLE)
def b26_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (the MATCH_RECOGNIZE shape, Spark has
    no pattern clause): per user, how far through view -> click ->
    purchase did the event SEQUENCE progress, where each stage must
    occur strictly after the previous one in (ts, event_id) order —
    a subsequence test, not a bag test (a purchase BEFORE the first
    view does not convert). Expressed as first-occurrence positions
    over the ordered per-user type sequence with progressive slicing:
    one grouped collect per user (the a7/o1 holistic shape), then
    narrow array arithmetic — no joins, no explode. DuckDB mirrors it
    with list_position over identical list slices.

    Scale: one user-keyed shuffle; per-user state is the type
    sequence. For power users at 100 TB, cap the sequence or fold to
    the 3-value stage automaton per partial aggregate instead — the
    automaton (aggregate fold) variant trades the exact positions for
    O(1) state and stays order-sensitive via the same sort key."""
    ev = load(spark, sf_dir, "events")
    seq = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ),
        lambda z: z["event_type"],
    )
    seqs = ev.groupBy("user_id").agg(seq.alias("seq"))
    pv = F.nullif(F.array_position(F.col("seq"), "view"), F.lit(0))
    seqs = seqs.select("user_id", "seq", pv.alias("pv"))
    pc = F.when(
        F.col("pv").isNotNull(),
        F.nullif(
            F.array_position(
                F.slice(
                    F.col("seq"),
                    (F.col("pv") + 1).cast("int"),
                    (F.size("seq") - F.col("pv")).cast("int"),
                ),
                "click",
            ),
            F.lit(0),
        )
        + F.col("pv"),
    )
    seqs = seqs.select("user_id", "seq", "pv", pc.alias("pc"))
    pp = F.when(
        F.col("pc").isNotNull(),
        F.nullif(
            F.array_position(
                F.slice(
                    F.col("seq"),
                    (F.col("pc") + 1).cast("int"),
                    (F.size("seq") - F.col("pc")).cast("int"),
                ),
                "purchase",
            ),
            F.lit(0),
        )
        + F.col("pc"),
    )
    seqs = seqs.select("user_id", "pv", "pc", pp.alias("pp"))
    return seqs.select(
        "user_id",
        F.when(F.col("pp").isNotNull(), 3)
        .when(F.col("pc").isNotNull(), 2)
        .when(F.col("pv").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("funnel_stage"),
        F.col("pp").isNotNull().alias("converted"),
    )


B28_ORACLE = (
    # exact 10% trimmed mean: drop the floor(n/10) lowest and highest
    # values (ties broken by value order — row_number over value), mean
    # of the rest, floor-truncated to 6dp (the o9 device: round() is
    # half-away-from-zero in DuckDB but banker's in Python round(), so
    # a mean landing on a .5e-6 boundary could flip the last digit —
    # ADVICE r6). DECIMAL-quantized sum so row order can't perturb the
    # mean.
    "WITH r AS (SELECT event_type, value,"
    "  row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,"
    "  count(*) OVER (PARTITION BY event_type) AS n"
    "  FROM events),"
    " kept AS (SELECT event_type, value, n FROM r"
    "  WHERE rn > n // 10 AND rn <= n - n // 10)"
    " SELECT event_type, CAST(max(n) AS BIGINT) AS n_total,"
    " CAST(count(*) AS BIGINT) AS n_kept,"
    " CAST(floor(CAST(sum(CAST(round(value, 9) AS DECIMAL(28,9)))"
    "  AS DOUBLE) / count(*) * 1e6) / 1e6 AS DOUBLE) AS trimmed_mean"
    " FROM kept GROUP BY event_type"
)


@query("b28_trimmed_mean", oracle=B28_ORACLE)
def b28_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28 — exact 10% trimmed mean per event type via a GROUPED-
    AGGREGATE pandas UDF: the one Python-boundary variant the engine
    didn't yet exercise (scalar pandas_udf, mapInPandas/Arrow,
    applyInPandas(WithState), UDTF, and the Python DataSource all
    exist) — the group's values arrive as ONE pandas Series per group,
    the trimmed mean goes back as a scalar, so the UDF slots into a
    normal ``groupBy().agg()`` next to built-ins (here: count).
    Statistically the outlier-resistant mean b27's median/MAD pairs
    with. Deterministic: values sorted inside the UDF, trim counts are
    integer floor(n/10), the kept values' sum is quantized to
    DECIMAL(28,9)-equivalent by rounding each addend to 9dp and
    summing with math.fsum, and the mean is floor-truncated to 6dp
    (Python round() is banker's, DuckDB round() half-away-from-zero —
    the o9 device sidesteps the .5e-6 boundary; ADVICE r6) — the
    oracle reproduces the identical arithmetic relationally.

    Scale: one shuffle on the group key; each group crosses to Python
    once as an Arrow batch. Skew bound = the largest single group —
    for extreme per-key cardinality the x2 sketch percentiles are the
    documented approximate fallback (same note as b27)."""
    import math

    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: the module's `from __future__ import
    # annotations` turns hints into strings the UDF inferencer can't
    # resolve against function-local imports
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trimmed_mean(v):
        vals = sorted(float(x) for x in v)
        k = len(vals) // 10
        kept = vals[k:len(vals) - k] if k else vals
        # fsum over 9dp-rounded addends == exact-DECIMAL sum of the
        # same addends (each is a small finite decimal; fsum is exact)
        total = math.fsum(round(x, 9) for x in kept)
        return math.floor(total / len(kept) * 1e6) / 1e6

    ev = load(spark, sf_dir, "events")
    # a GROUPED_AGG pandas UDF cannot share an agg() with JVM
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — the count rides a
    # separate agg on the same key; both group on event_type so the
    # exchange is shared/reused
    tm = ev.groupBy("event_type").agg(
        trimmed_mean(F.col("value")).alias("trimmed_mean")
    )
    counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    return counts.join(tm, "event_type").select(
        "event_type",
        "n_total",
        (F.col("n_total") - 2 * F.floor(F.col("n_total") / 10))
        .cast("bigint")
        .alias("n_kept"),
        "trimmed_mean",
    )
