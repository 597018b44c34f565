"""Relational extension surface: filters, joins, aggregations, set ops
(SURVEY.md §2B rows B-P*, B-J*, B-A*, B-O*).

All pure DataFrame builtins — Catalyst owns pushdown, join strategy
selection, and partial aggregation. Per-query docstrings call out the
physical plan we expect at the 100 TB design point and what makes it
hold (broadcast vs shuffle, AQE, bucketing).

Float-aggregate parity uses the exact-decimal convention from
:mod:`streamclient_spark.compat`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streamclient_spark.compat import dec_avg, dec_sum, sql_dec_avg, sql_dec_sum
from streamclient_spark.plans.registry import register
from streamclient_spark.tables import broadcast_if_small, load

# ---------------------------------------------------------------------------
# B-P1 / B-P2 — compound predicates, conditional expressions
# ---------------------------------------------------------------------------


@register(
    "q_filter_compound",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           l_returnflag, l_shipdate
    FROM lineitem
    WHERE (l_returnflag IN ('A', 'R') OR l_linestatus = 'O')
      AND l_quantity BETWEEN 10 AND 40
      AND NOT (l_discount < 0.02)
      AND l_shipdate >= TIMESTAMP '1997-01-01'
    """,
)
def q_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-P1: AND/OR/NOT, IN, BETWEEN over lineitem. Every conjunct is
    pushable; `.explain` shows them in PushedFilters on the scan."""
    l = load(spark, sf_dir, "lineitem")
    return l.filter(
        (F.col("l_returnflag").isin("A", "R") | (F.col("l_linestatus") == "O"))
        & F.col("l_quantity").between(10, 40)
        & ~(F.col("l_discount") < 0.02)
        & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "l_shipdate",
    )


@register(
    "q_case_when",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_totalprice >= 200000 THEN 'high'
                WHEN o_totalprice >= 50000  THEN 'mid'
                ELSE 'low' END AS price_band,
           CASE o_orderstatus WHEN 'F' THEN 1 ELSE 0 END AS is_final
    FROM orders
    """,
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-P2: when/otherwise chains (searched + simple CASE forms)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_totalprice") >= 200000, "high")
        .when(F.col("o_totalprice") >= 50000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("is_final"),
    )


# ---------------------------------------------------------------------------
# B-J1 — broadcast hash join through the dimension chain
# ---------------------------------------------------------------------------


@register(
    "q_join_broadcast",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           COUNT(*) AS n_customers,
           {sum_bal} AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """.format(sum_bal=sql_dec_sum("c.c_acctbal")),
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-J1: star-join customer→nation→region with both dims broadcast.

    nation/region are KB-sized at any SF — broadcasting them removes
    every shuffle except the final group-by. At 100 TB the same plan
    holds: dims ship to 1000 executors once; the fact table never moves.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dec_sum("c_acctbal").alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# B-J2 — large-large equi-join (sort-merge / shuffled hash territory)
# ---------------------------------------------------------------------------


@register(
    "q_join_sortmerge",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, o.o_orderstatus,
           l.l_extendedprice, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def q_join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-J2: fact-fact join lineitem⋈orders on the order key.

    Both sides shuffle on o_orderkey (sort-merge or AQE-chosen shuffled
    hash). At 100 TB: bucket both tables by orderkey at write time and
    this becomes a zero-shuffle co-located join; the `o_orderstatus`
    filter lands on the orders scan before the shuffle either way.
    """
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        "o_custkey",
        "o_orderstatus",
        "l_extendedprice",
        "o_totalprice",
    )


# ---------------------------------------------------------------------------
# B-J3 — outer joins
# ---------------------------------------------------------------------------


@register(
    "q_join_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS n_orders,
           {sum_price} AS total_spent
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """.format(sum_price=sql_dec_sum("o.o_totalprice")),
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-J3: left outer join keeping order-less customers (NULL-counted
    as 0 orders, NULL total). COUNT(col) skips nulls in both engines.

    Plan: the per-customer aggregate is pushed BELOW the join (orders
    pre-aggregates on ``o_custkey`` with map-side combine, then the
    customer table left-joins the 10×-smaller aggregate) — Catalyst
    doesn't rewrite agg-through-outer-join itself, and at 100 TB the
    difference is shuffling partial aggregates instead of every
    full-width order row. A missing aggregate row IS the outer-join
    NULL: count coalesces to 0, the sum stays NULL, exactly the
    join-then-aggregate semantics."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    o_agg = o.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("_n"),
        dec_sum("o_totalprice").alias("total_spent"),
    )
    return (
        c.join(o_agg, c.c_custkey == o_agg.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_orders"),
            "total_spent",
        )
    )


# ---------------------------------------------------------------------------
# B-J4 — semi / anti joins
# ---------------------------------------------------------------------------


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-J4a: left-semi (EXISTS) — customers with at least one big order.
    Semi-join only ships the join key of the right side; no row blowup."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-J4b: left-anti (NOT EXISTS) — customers with no orders at all.
    (Oracle uses NOT IN; safe here because o_custkey is never NULL.)"""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# B-J5 — equi + range residual join
# ---------------------------------------------------------------------------


@register(
    "q_join_range",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_partkey, p.p_size, l.l_quantity
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
              AND l.l_quantity BETWEEN p.p_size - 5 AND p.p_size + 5
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-J5: theta join = equi key + range residual. The equi conjunct
    keeps it a hash join (never a quadratic cross+range join); the
    BETWEEN is evaluated as a post-join residual, which survives any
    join strategy. No broadcast hint: ``part`` is fact-scaled (sf×200k
    rows — hundreds of GB at the 100 TB design point), so the join
    shuffles on ``partkey`` at scale while Catalyst/AQE remain free to
    broadcast it when its measured size is genuinely small."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return l.join(
        p,
        (l.l_partkey == p.p_partkey)
        & l.l_quantity.between(p.p_size - 5, p.p_size + 5),
    ).select("l_orderkey", "l_linenumber", "p_partkey", "p_size", "l_quantity")


# ---------------------------------------------------------------------------
# B-J6 — as-of join (latest prior event per key)
# ---------------------------------------------------------------------------


@register(
    "q_join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           v.view_ts AS last_view_ts
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN
         (SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts
          FROM events WHERE event_type = 'view') v
    ON p.user_id = v.user_id AND CAST(p.ts AS TIMESTAMP) >= v.view_ts
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-J6: as-of join — for each purchase, the latest view at ts ≤
    purchase ts for the same user.

    Spark has no ASOF JOIN; the scalable re-expression is the
    *union-merge* pattern: union both streams, one window sorted by
    (ts, side) per key, carry the last non-null view timestamp forward
    with last(ignorenulls=True). One shuffle on the key, O(n log n)
    per partition — versus the quadratic range-join formulation. The
    same pattern is the standard Spark answer for point-in-time
    feature lookups at 100 TB.
    """
    e = load(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("ts"),
        F.col("ts").alias("view_ts_tagged"),
        F.lit(0).alias("side"),  # views sort before purchases at equal ts
        F.lit(None).cast("long").alias("event_id"),
    )
    purchases = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        "ts",
        F.lit(None).cast("timestamp").alias("view_ts_tagged"),
        F.lit(1).alias("side"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = views.unionByName(purchases).withColumn(
        "last_view_ts", F.last("view_ts_tagged", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("side") == 1).select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "last_view_ts",
    )


# ---------------------------------------------------------------------------
# B-J7 — cross join
# ---------------------------------------------------------------------------


@register(
    "q_join_cross",
    oracle="""
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-J7: explicit cartesian product (both sides tiny → broadcast
    nested loop; anything larger should never cross-join unbanded)."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


# ---------------------------------------------------------------------------
# B-A1 — TPC-H Q1: the canonical multi-measure hash aggregate
# ---------------------------------------------------------------------------

_Q1_CUTOFF = "1998-09-02"


@register(
    "q_agg_tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dec_sum('l_quantity')} AS sum_qty,
           {sql_dec_sum('l_extendedprice')} AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
             AS sum_disc_price,
           CAST(SUM((CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(12,2))))
                    * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE)
             AS sum_charge,
           {sql_dec_avg('l_quantity')} AS avg_qty,
           {sql_dec_avg('l_extendedprice')} AS avg_price,
           {sql_dec_avg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-A1: TPC-H Q1 shape — one scan, pushed date filter, partial+final
    hash aggregate on two low-cardinality keys. The map-side combine
    means the shuffle carries ~|groups|×|tasks| rows regardless of
    input size — the reason this stays fast at 100 TB.

    Money arithmetic is EXACT (the correct 100 TB semantics — no FP
    drift over billions of adds — and what makes the oracle hash
    bit-stable), but runs as two-limb LONG sums instead of >18-digit
    decimal accumulators (compat.limb_sums): values scale to exact
    integer cents, products stay exact integers, the hot aggregate
    sums plain longs inside whole-stage codegen, and the exact decimal
    reassembly happens on the |groups| output rows. Measured 0.95 s vs
    12 s for the BigDecimal-backed decimal formulation at 60M rows —
    identical values.
    """
    from streamclient_spark.compat import limb_sums, limb_value, scaled2

    l = load(spark, sf_dir, "lineitem")
    # exact integer forms: P2/Q2/D2/T2 are cents (scale 1e2); products
    # compound the scale — disc 1e4, charge 1e6 — and stay exact longs
    P2, Q2 = scaled2("l_extendedprice"), scaled2("l_quantity")
    D2, T2 = scaled2("l_discount"), scaled2("l_tax")
    disc_s = P2 * (F.lit(100) - D2)
    charge_s = disc_s * (F.lit(100) + T2)
    agg = (
        l.filter(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            *limb_sums(Q2, "qty"),
            *limb_sums(P2, "price"),
            *limb_sums(disc_s, "disc"),
            *limb_sums(charge_s, "charge"),
            *limb_sums(D2, "drate"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    n = F.col("count_order")
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        limb_value("qty", 2).alias("sum_qty"),
        limb_value("price", 2).alias("sum_base_price"),
        limb_value("disc", 4).alias("sum_disc_price"),
        limb_value("charge", 6).alias("sum_charge"),
        (limb_value("qty", 2) / n).alias("avg_qty"),
        (limb_value("price", 2) / n).alias("avg_price"),
        (limb_value("drate", 2) / n).alias("avg_disc"),
        "count_order",
    )


# ---------------------------------------------------------------------------
# B-A2 / B-A3 — distinct & (approx) count-distinct
# ---------------------------------------------------------------------------


@register(
    "q_agg_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-A2: exact count-distinct per group (expands to a two-phase
    aggregate; the distinct expansion is the shuffle to watch at scale)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register("q_agg_approx_cd", oracle=None)  # estimator-specific → rows-only
def q_agg_approx_cd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-A3: approximate count-distinct (HyperLogLog++). Spark's and
    DuckDB's estimators differ by design, so there is no value oracle;
    the test suite asserts a relative-error bound against the exact
    count instead. At 100 TB this replaces the distinct expansion with
    a constant-size sketch per group — the scalable default."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers")
    )


# ---------------------------------------------------------------------------
# B-A4 — rollup / cube with grouping ids
# ---------------------------------------------------------------------------


@register(
    "q_agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           {sql_dec_sum('l_quantity')} AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-A4: hierarchical rollup (flag → flag+status → grand total) with
    grouping_id distinguishing the NULL-as-aggregated rows from data
    NULLs. Executes as a single expanded aggregate, not three passes;
    the exact sum runs as long limbs (compat.limb_sums), which matters
    doubly under Expand — the ×3 row multiplier would also ×3 the
    BigDecimal allocation churn."""
    from streamclient_spark.compat import limb_sums, limb_value, scaled2

    l = load(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            *limb_sums(scaled2("l_quantity"), "qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "gid",
            limb_value("qty", 2).alias("sum_qty"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# B-A5 — HAVING (post-aggregation filter)
# ---------------------------------------------------------------------------


@register(
    "q_agg_having",
    oracle=f"""
    SELECT l_suppkey, {sql_dec_sum('l_extendedprice')} AS revenue, COUNT(*) AS n
    FROM lineitem
    GROUP BY l_suppkey
    HAVING {sql_dec_sum('l_extendedprice')} > 10000000
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-A5: filter on an aggregate result (suppliers above a revenue
    floor). The filter runs after the final aggregate — cheap; the agg
    itself still benefits from map-side combine."""
    from streamclient_spark.compat import limb_sums, limb_value, scaled2

    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_suppkey")
        .agg(
            *limb_sums(scaled2("l_extendedprice"), "rev"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_suppkey", limb_value("rev", 2).alias("revenue"), "n"
        )
        .filter(F.col("revenue") > 10000000)
    )


# ---------------------------------------------------------------------------
# B-O1 — multi-key sort (with deterministic top-k materialization)
# ---------------------------------------------------------------------------


@register(
    "q_sort_multi",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC
    LIMIT 200
    """,
)
def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-O1: multi-key mixed-direction sort; the trailing unique key
    makes the LIMIT deterministic. Sort+limit compiles to
    TakeOrderedAndProject — a per-partition top-k then a k-way merge,
    never a full global sort."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy(
            F.col("o_orderpriority").asc(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey").asc(),
        )
        .limit(200)
    )


# ---------------------------------------------------------------------------
# B-O2 — top-k per group
# ---------------------------------------------------------------------------


@register(
    "q_topk_group",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      FROM customer) t
    WHERE rn <= 3
    """,
)
def q_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-O2: top-3 customers by balance per market segment via ranked
    window + filter (unique tie-break on the key). Spark pushes a
    per-partition group-limit before the shuffle (WindowGroupLimit),
    so the shuffle carries ≤ k rows per group per task."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
    )


# ---------------------------------------------------------------------------
# B-O3 — set operations
# ---------------------------------------------------------------------------


@register(
    "q_set_ops",
    oracle="""
    WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 250000),
         fin AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    SELECT 'union' AS op, COUNT(*) AS n FROM (SELECT * FROM hi UNION SELECT * FROM fin)
    UNION ALL
    SELECT 'intersect', COUNT(*) FROM (SELECT * FROM hi INTERSECT SELECT * FROM fin)
    UNION ALL
    SELECT 'except', COUNT(*) FROM (SELECT * FROM hi EXCEPT SELECT * FROM fin)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-O3: UNION (distinct) / INTERSECT / EXCEPT over two order-key
    sets, summarized as counts in one result. Each set op is a shuffle
    on the full row — at scale prefer keyed semi/anti joins when the
    row is wide (these rows are one column, the cheap case)."""
    o = load(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 250000).select("o_custkey")
    fin = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")

    def n(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(tag).alias("op"), "n"
        )

    return (
        n(hi.union(fin).distinct(), "union")
        .unionByName(n(hi.intersect(fin), "intersect"))
        .unionByName(n(hi.subtract(fin), "except"))  # EXCEPT (distinct) semantics
    )


# ---------------------------------------------------------------------------
# B-A1 extensions — pivot & exact percentile
# ---------------------------------------------------------------------------


@register(
    "q_agg_pivot",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-A1 (pivot): status columns per priority via ``pivot`` with the
    value set pinned — an *explicit* pivot list is mandatory at scale
    (without it Spark runs an extra distinct pass over the pivot column
    to discover values). Compiles to the same partial+final conditional
    aggregation as the oracle's FILTER clauses."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


@register(
    "q_agg_percentile",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-A1 (exact percentile): continuous-interpolation quantiles per
    group. Exact percentile holds the group's values in memory — right
    for bounded groups like these; the unbounded-cardinality tool is
    ``approx_percentile`` (t-digest), same call shape (cf.
    ``q_agg_approx_cd`` for the sketch posture). Interpolation is one
    IEEE lerp of two data values — engine-identical."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# B-A4b — CUBE (all grouping-set combinations)
# ---------------------------------------------------------------------------


@register(
    "q_agg_cube",
    oracle=f"""
    SELECT l_linestatus, EXTRACT(year FROM l_shipdate) AS ship_year,
           GROUPING(l_linestatus, EXTRACT(year FROM l_shipdate)) AS gid,
           {sql_dec_sum('l_extendedprice')} AS revenue,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_linestatus, EXTRACT(year FROM l_shipdate))
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-A4: full cube over (status, ship-year) — all four grouping
    sets in one expanded aggregate (Expand multiplies each input row by
    the number of sets, partial-aggregates map-side, shuffles once).
    At scale prefer rollup when the lattice isn't needed: cube's
    expansion factor is 2^k in the number of cube columns."""
    from streamclient_spark.compat import limb_sums, limb_value, scaled2

    l = load(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("bigint")
    )
    return (
        l.cube("l_linestatus", "ship_year")
        .agg(
            F.grouping_id().alias("gid"),
            *limb_sums(scaled2("l_extendedprice"), "rev"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_linestatus",
            "ship_year",
            "gid",
            limb_value("rev", 2).alias("revenue"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# B-J8 — correlated subqueries (scalar + EXISTS), Catalyst-decorrelated
# ---------------------------------------------------------------------------

_SQ_SCALAR = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM {orders} o
    WHERE o_totalprice > 2 * (
        SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*)
        FROM {orders} o2
        WHERE o2.o_custkey = o.o_custkey
    )
"""

_SQ_EXISTS = """
    SELECT c_custkey, c_name
    FROM {customer} c
    WHERE EXISTS (
        SELECT 1 FROM {orders} o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    AND NOT EXISTS (
        SELECT 1 FROM {orders} o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
"""


@register(
    "q_subquery_scalar",
    oracle=_SQ_SCALAR.format(orders="orders"),
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-J8: correlated scalar subquery — orders above 2× their
    customer's running average. One SQL text serves both engines; the
    subquery's mean uses the exact-decimal convention so the comparison
    boundary cannot drift between engines. Catalyst decorrelates this
    into an aggregate + equi-join (no per-row re-execution); the join
    shuffles on o_custkey once, and AQE picks broadcast when the
    aggregated side is small."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("_sq_orders")
    return spark.sql(_SQ_SCALAR.format(orders="_sq_orders"))


@register(
    "q_exists",
    oracle=_SQ_EXISTS.format(customer="customer", orders="orders"),
)
def q_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-J8: correlated EXISTS / NOT EXISTS — customers with a finished
    order and no order over 400k. Catalyst rewrites the pair into a
    left-semi plus a left-anti join on c_custkey (same physical shape
    as q_join_semi/q_join_anti — the subquery surface is sugar over
    them, and the 100 TB notes there apply unchanged)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("_sq_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("_sq_orders")
    return spark.sql(
        _SQ_EXISTS.format(customer="_sq_customer", orders="_sq_orders")
    )


# ---------------------------------------------------------------------------
# Flagship multi-join pipelines (TPC-H Q3 / Q5 shapes)
# ---------------------------------------------------------------------------

_DISC_PRICE_SQL = (
    "SUM(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(12,2))))"
)


@register(
    "q_tpch_q3",
    oracle=f"""
    SELECT l_orderkey,
           CAST({_DISC_PRICE_SQL} AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: shipping-priority — a selective dim filter
    (1/5 of customers), two fact joins, aggregate, global top-10.

    100 TB plan: customer is FACT-SCALED (sf×150k rows), so its join
    carries NO broadcast hint — at fixture scale Catalyst/AQE measure
    the filtered side under the threshold and broadcast it into
    orders; at the 100 TB design point the same unhinted join falls
    back to a custkey shuffle instead of OOMing every executor (the
    r1-verdict lesson from Q5, applied uniformly). The
    orders⋈lineitem join shuffles both sides
    on orderkey once (or zero times if both facts are bucketed by
    orderkey — the layout this engine would pick for a standing
    pipeline), the date filters push to the scans, and the top-10 is a
    TakeOrderedAndProject — per-partition heaps, never a full sort.
    Revenue is exact (long-limb sums of the integer-cents product, the
    same rational the decimal convention yields); the limit carries a
    unique tie-break (l_orderkey) so the selected set is
    deterministic."""
    from streamclient_spark.compat import limb_sums, limb_value, scaled2

    cutoff = F.lit("1998-03-15").cast("timestamp")
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    disc_s = scaled2("l_extendedprice") * (
        F.lit(100) - scaled2("l_discount")
    )
    return (
        l.join(
            c.join(o, F.col("c_custkey") == F.col("o_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(*limb_sums(disc_s, "rev"))
        .select(
            "l_orderkey",
            limb_value("rev", 4).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q_tpch_q5",
    oracle=f"""
    SELECT n_name, CAST({_DISC_PRICE_SQL} AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier revenue by nation — a six-table
    join with a region→nation reduction and the customer-nation =
    supplier-nation colocation predicate.

    100 TB plan: region⋈nation collapses to a tiny broadcast (≤25
    rows, fixed size at every SF — the only hinted broadcast) that
    prunes suppliers before any fact shuffle. Supplier and customer
    are FACT-SCALED (sf×10k / sf×150k rows — hundreds of GB at the
    100 TB design point), so they carry no broadcast hint: their joins
    shuffle on suppkey/custkey at scale, and Catalyst/AQE upgrade them
    to broadcast only when the measured size is genuinely under the
    threshold. Catalyst is free to reorder the joins (declarative
    plan, no hand scheduling); the final aggregate is 5 groups,
    map-side combined to nothing."""
    from streamclient_spark.compat import limb_sums, limb_value, scaled2

    n = (
        load(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                load(spark, sf_dir, "region").filter(
                    F.col("r_name") == "ASIA"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    s = load(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    disc_s = scaled2("l_extendedprice") * (
        F.lit(100) - scaled2("l_discount")
    )
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            c,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(*limb_sums(disc_s, "rev"))
        .select("n_name", limb_value("rev", 4).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# round-2 additions: grouping sets, salted-join attestation, TPC-H Q18
# ---------------------------------------------------------------------------


@register(
    "q_agg_grouping_sets",
    oracle="""
    SELECT lang, source,
           CAST(GROUPING(lang, source) AS BIGINT) AS gid,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY GROUPING SETS ((lang, source), (lang), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form rollup/cube are sugar
    for: (lang, source) detail, per-lang subtotal, grand total, with
    ``grouping_id`` disambiguating NULL-as-aggregated from NULL-as-value.
    One Expand (3× multiplier, only the sets requested — cube would pay
    4×) feeding a single partial+final hash aggregate; same scale shape
    as q_agg_rollup. At 100 TB the detail set dominates rows out and
    the subtotal sets piggyback on the same shuffle."""
    d = load(spark, sf_dir, "documents")
    return d.groupingSets(
        [["lang", "source"], ["lang"], []], "lang", "source"
    ).agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    ).select("lang", "source", "gid", "n_docs", "sum_chars")


@register(
    "q_join_salted",
    oracle=f"""
    SELECT s_nationkey,
           {sql_dec_sum('l_quantity')} AS sum_qty,
           count(*) AS n_items
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient fact⋈dim join through
    :func:`streamclient_spark.scale.salted_join` (n_salts=8): the
    oracle is the *plain* join — salting must be invisible in the
    result, which is exactly the property this query attests. The salt
    splits any hot supplier key across 8 sub-partitions; the dim side
    replicates 8× (still tiny), and the post-join aggregate re-combines
    on the natural key. At 100 TB this is the pattern for power-law
    keys the AQE skew handler misses (single logical key > one
    partition's memory)."""
    from streamclient_spark.scale import salted_join

    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    s = (
        load(spark, sf_dir, "supplier")
        .select(
            F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
        )
    )
    return (
        salted_join(l, s, "l_suppkey", n_salts=8)
        .groupBy("s_nationkey")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q_tpch_q18",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           {sql_dec_sum('l_quantity')} AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(27,4))) > 300)
      AND c_custkey = o_custkey
      AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume customers — a HAVING-filtered
    self-semi-join on the fact table, then customer/order detail for
    the qualifying orders, global top-100 by order value.

    100 TB plan (round-8 single-pass rewrite): the per-order quantity
    sums that decide qualification (sum(qty) > 300, ~1% of orders) ARE
    the query's output aggregate — the final group key
    (c_name, custkey, orderkey, orderdate, totalprice) is per-order
    and orders/customer are PK-unique on their join keys, so joining
    raw lineitem back (the textbook Q18 and this operator's r1 shape)
    re-scans and re-shuffles the whole fact to recompute numbers the
    HAVING aggregate already holds. One partial+final aggregate of
    lineitem on l_orderkey, filter, then the ~1%-of-orders survivor
    set joins orders and customer (AQE picks the strategy; with
    lineitem bucketed by orderkey the aggregate itself is
    shuffle-free). Exactness: the decimal sum is computed once and
    cast to double once — same expression the oracle groups by.
    Top-100 is TakeOrderedAndProject with o_orderkey as the unique
    tie-break. Warm sf1 A/B: 1.06 s single-pass vs 2.04 s two-pass."""
    from streamclient_spark.compat import DEC

    l = load(spark, sf_dir, "lineitem")
    per_order = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("_q"))
        .filter(F.col("_q") > 300)
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        per_order.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice",
            F.col("_q").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# round-2 additions: TPC-H Q4 / Q12 / Q14 shapes
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate <  TIMESTAMP '1997-10-01'
      AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking — orders in one quarter
    with at least one late-shipped line (shipped >90 days after order;
    the fixture has no commit/receipt dates, so lateness is
    ship-vs-order + 90d — same correlated-EXISTS structure).

    EXISTS is deliberately NOT a ``left_semi`` with orders on the
    left: semi-join builds on the right side, which pins the *fact*
    (lineitem) as the hash build — unbroadcastable, so the whole fact
    sorts through a shuffle join (measured 3.7 s at sf1). The inner
    join below keeps the quarter-filtered orders (~2% of rows, filter
    pushed to the scan) as the join's small side — Catalyst/AQE
    broadcasts it when it fits and falls back to a shuffle join when
    it doesn't — and then de-duplicates matched (orderkey, priority)
    pairs, which the partial-aggregate combines map-side, so the
    distinct's shuffle moves only surviving pairs (measured 1.1 s at
    sf1, same rows). With both facts bucketed by orderkey the join is
    co-located either way; the final 5-group aggregate is map-side
    combined to nothing."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    matched = l.join(
        o,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ),
    )
    return (
        matched.select("o_orderkey", "o_orderpriority")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q_tpch_q12",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: shipping-priority distribution — one year of
    lineitems joined back to their orders, counting urgent vs other
    orders per return flag (the fixture carries no l_shipmode, so the
    group key is l_returnflag; the conditional-aggregation structure is
    Q12's).

    100 TB plan: the year filter pushes to the lineitem scan; the
    orderkey equi-join is the only shuffle (co-located if bucketed);
    the CASE counters fold into the partial aggregate so the final
    exchange moves 3 rows. Counting via SUM(CASE)—not two filtered
    joins—keeps it one pass."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias(
                "high_line_count"
            ),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias(
                "low_line_count"
            ),
        )
    )


@register(
    "q_tpch_q14",
    oracle=f"""
    SELECT CAST(100.00 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                    THEN CAST(l_extendedprice AS DECIMAL(12,2))
                         * (1 - CAST(l_discount AS DECIMAL(12,2)))
                    END) AS DOUBLE)
           / CAST({_DISC_PRICE_SQL} AS DOUBLE) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion-revenue share — one month of
    lineitems joined to part, PROMO revenue as a percentage of total.

    Both sums run in exact decimal space and convert to DOUBLE once;
    the percentage is then a single IEEE division — deterministic
    across engines. 100 TB plan: month filter pushes to the fact scan
    (<1% of rows); part is fact-scaled so the partkey join is an
    UNHINTED shuffle join (AQE may still broadcast a genuinely small
    side — the q_tpch_q5 lesson); the global scalar aggregate is a
    partial-agg to one row per task before the single-row exchange."""
    from streamclient_spark.compat import dec2

    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = dec2("l_extendedprice") * (F.lit(1) - dec2("l_discount"))
    # no otherwise(): SUM skips nulls in both engines, matching the
    # ELSE-less CASE in the oracle without a type-unification dance
    promo = F.when(F.col("p_type").like("PROMO%"), disc)
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                (F.lit(100.0) * F.sum(promo).cast("double"))
                / F.sum(disc).cast("double")
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# round-2 additions: remaining feasible TPC-H shapes (Q6/Q7/Q8/Q10/Q13/
# Q15/Q17/Q19/Q22 — the fixture lacks partsupp and the commit/receipt
# date + shipmode/phone/comment columns, so Q2/Q9/Q11/Q16/Q20/Q21 have
# no faithful analog; predicates are adapted where those columns appear)
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
           AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: forecasting-revenue change — a pure
    scan→filter→scalar-aggregate with zero joins (ref semantics:
    the reference's count/metric queries are the same shape,
    `/root/reference/services/AlertService.py:66-76`).

    100 TB plan: the three conjuncts all push to the parquet scan
    (date + discount + quantity are min/max-prunable row-group
    stats), the product is summed as exact integer cents×basis-points
    through long limbs (whole-stage codegen, no BigDecimal boxing),
    and the exchange moves one row per task. This is the canonical
    "scan speed IS the query" shape — no shuffle at any scale."""
    from streamclient_spark.compat import limb_sums, limb_value, scaled2

    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    # extendedprice in cents × discount in cents → exact 1e-4 units
    prod = scaled2("l_extendedprice") * scaled2("l_discount")
    return (
        l.agg(*limb_sums(prod, "rev"))
        .select(limb_value("rev", 4).alias("revenue"))
    )


@register(
    "q_tpch_q7",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           CAST({_DISC_PRICE_SQL} AS DOUBLE) AS revenue
    FROM supplier, lineitem, orders, customer, nation n1, nation n2
    WHERE s_suppkey = l_suppkey
      AND o_orderkey = l_orderkey
      AND c_custkey = o_custkey
      AND s_nationkey = n1.n_nationkey
      AND c_nationkey = n2.n_nationkey
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: volume shipping between two trading nations —
    both fact-to-fact joins plus a symmetric two-nation predicate that
    cannot be fully pushed to either side alone.

    100 TB plan (r9 refresh — the q8/q9 lesson): nation is fixed-size
    at every SF, so the two-nation cut folds to a literal ``isin`` and
    the names attach via a 2-entry literal map (the isin reproduces
    the oracle's inner-join drop of NULL/orphan keys exactly) — no
    nation joins at all. That prunes supplier/customer to ~2/25 of
    their rows BEFORE the fact joins. Join order keeps every full
    fact out of the exchanges: lineitem is pre-reduced by the
    supplier cut (~8%), orders by the customer cut (~8%), and the two
    reduced sides meet on orderkey (measured 5.5 s → 1.9 s at sf1 vs
    joining full orders first; the r9 broadcast hints — which express
    where AQE lands at runtime anyway, skipping the static SMJ's
    materialized fact exchange — take it to 1.29 s, A/B in
    BENCH_NOTES; the hints are SIZE-GATED through
    ``broadcast_if_small`` (r10, ADVICE r9 medium) so above the
    static-estimate ceiling they come off BY CONSTRUCTION and the
    reduced sides meet as the bucketed orderkey join). The symmetric
    OR residual
    runs after both nation names are bound. Revenue sums through long
    limbs; the final group count is |2 × years|, map-side combined to
    nothing."""
    from itertools import chain

    from streamclient_spark.compat import limb_sums, limb_value, scaled2

    pair = ("NATION_1", "NATION_2")
    # bounded dim collect: 2 of the 25 fixed nation rows
    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in load(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .collect()
    }
    name_map = F.create_map(
        *chain.from_iterable(
            (F.lit(k), F.lit(v)) for k, v in sorted(nat.items())
        )
    )
    keys = sorted(nat)
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey").isin(keys))
        .select(
            "s_suppkey", name_map[F.col("s_nationkey")].alias("supp_nation")
        )
    )
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(keys))
        .select(
            "c_custkey", name_map[F.col("c_nationkey")].alias("cust_nation")
        )
    )
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate",
             "l_extendedprice", "l_discount")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    disc_s = scaled2("l_extendedprice") * (
        F.lit(100) - scaled2("l_discount")
    )
    oc = o.join(
        broadcast_if_small(c, sf_dir, "customer"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("o_orderkey", "cust_nation")
    # oc is join-derived: |oc| ≤ |o| because c_custkey is customer's
    # unique key, so orders is the sound bounding table.
    return (
        l.join(
            broadcast_if_small(s, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            broadcast_if_small(oc, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(
            (
                (F.col("supp_nation") == pair[0])
                & (F.col("cust_nation") == pair[1])
            )
            | (
                (F.col("supp_nation") == pair[1])
                & (F.col("cust_nation") == pair[0])
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(*limb_sums(disc_s, "rev"))
        .select(
            "supp_nation", "cust_nation", "l_year",
            limb_value("rev", 4).alias("revenue"),
        )
    )


@register(
    "q_tpch_q8",
    oracle="""
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume END) AS DOUBLE)
           / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer,
           nation n1, nation n2, region
      WHERE p_partkey = l_partkey
        AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey
        AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey
        AND n1.n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND s_nationkey = n2.n_nationkey
        AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — an 8-table join where
    one nation's revenue is divided by all-nation revenue per year
    (conditional-sum / total-sum on the same pass).

    Round-9 rewrite (VERDICT r8 #3 — the last standing >2×/>1.5 s
    floor, 1.73 s warm min-of-10 → 1.02 s, same-session A/B at sf1):

    - **nation/region fold to literals.** Both dims are FIXED-SIZE at
      every TPC-H scale factor (25/5 rows by definition), so the
      region→nation→customer reduction becomes one ``isin`` over the
      ASIA nation keys and the numerator's nation test becomes
      ``s_nationkey == <key>`` — the name column was never needed.
      That deletes the supplier⋈nation join and THREE of the six
      BroadcastExchanges (each ~0.1-0.2 s of serial driver latency in
      local mode; the bounded two-dim collect is the one-row-per-enum
      class).
    - **orders reduce BEFORE the fact.** ``oc`` = two years × one
      region of orders (≈6% of the table, measured 89k rows at sf1):
      the o⋈c join runs on the dimension side first, so lineitem is
      joined ONCE, against the already-reduced order set, and the
      fact crosses zero exchanges (the r8 shape shuffled+sorted the
      fact three times: suppkey → orderkey → custkey).
    - **hints express what AQE measured.** AQE converts every one of
      these joins to broadcast at runtime anyway (verified on the
      final plan) but only AFTER materializing the static SMJ's fact
      exchange (~0.6 s wasted); the explicit hints skip that. The
      hints are SIZE-GATED through ``broadcast_if_small`` (r10,
      ADVICE r9 medium): each fires only while its bounding table's
      raw parquet bytes (for ``oc``, orders — sound because c_custkey
      is a unique key, so |oc| ≤ |orders|) stay under the 32 MB
      ceiling, so at 100 TB they come off BY CONSTRUCTION and
      the l⋈oc join is the canonical bucketed co-partitioned orderkey
      join (C-26) — the REDUCTION ORDER (dims first, fact once) is
      the part that survives 100×; sf10 scale ≤linear (BENCH_NOTES r9).

    Both sums (conditional numerator, total denominator) fold into
    ONE partial aggregate — market share needs no second pass. Exact
    limb sums; one IEEE division per year row."""
    from streamclient_spark.compat import limb_sums, limb_value, scaled2

    # bounded dim collect: 25 nations + 5 regions at every TPC-H sf
    nat_rows = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).collect()
    # missing dim rows behave like the oracle's inner join (empty /
    # never-matching), not a builder crash (r9 review finding)
    asia_rows = (
        load(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .collect()
    )
    asia_key = asia_rows[0]["r_regionkey"] if asia_rows else None
    asia_nations = sorted(
        r["n_nationkey"] for r in nat_rows if r["n_regionkey"] == asia_key
    )
    nation3_key = next(
        (r["n_nationkey"] for r in nat_rows if r["n_name"] == "NATION_3"),
        None,
    )
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(asia_nations))
        .select("c_custkey")
    )
    # the oracle INNER-joins supplier⋈nation, so a supplier row with a
    # NULL/orphan nationkey is dropped from the denominator — the
    # literal fold must reproduce that with an isin over the full dim
    all_nations = sorted(r["n_nationkey"] for r in nat_rows)
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey").isin(all_nations))
        .select("s_suppkey", "s_nationkey")
    )
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount",
    )
    vol = scaled2("l_extendedprice") * (F.lit(100) - scaled2("l_discount"))
    nat_vol = F.when(F.col("s_nationkey") == F.lit(nation3_key), vol)
    oc = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "o_orderdate"
    )
    # oc is join-derived: |oc| ≤ |o| because c_custkey is customer's
    # unique key, so orders is the sound bounding table.
    return (
        l.join(
            broadcast_if_small(p, sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            broadcast_if_small(oc, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            broadcast_if_small(s, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            *limb_sums(nat_vol, "nat"),
            *limb_sums(vol, "tot"),
        )
        .select(
            "o_year",
            (limb_value("nat", 4) / limb_value("tot", 4)).alias(
                "mkt_share"
            ),
        )
    )


@register(
    "q_tpch_q10",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST({_DISC_PRICE_SQL} AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item reporting — top-20 customers by
    lost revenue in a quarter, with nation detail.

    100 TB plan (round-8 rewrite, VERDICT r7 #2): the quarter filter
    (≈3% of orders) and the returnflag filter (≈25% of lineitems) both
    push to their scans; the orderkey join is the only fact-fact
    shuffle (co-located when both facts are bucketed by orderkey);
    then revenue PRE-AGGREGATES by ``o_custkey`` BEFORE customer is
    touched — the agg's group key is a single bigint (the registered
    r7 shape grouped the post-customer join by
    (custkey, name, acctbal, n_name), dragging two string columns
    through partial-agg hashing for keys that are functionally
    dependent on custkey anyway). The customer join then moves only
    |quarter's buying customers| rows (~57k at sf1 vs 2M lineitems)
    and AQE picks its strategy unhinted (customer is fact-scaled — the
    q_tpch_q5 lesson); nation broadcasts (fixed 25 rows). The top-20
    is TakeOrderedAndProject (per-partition heaps, no global sort),
    with c_custkey as the unique tie-break. Warm sf1 A/B: pre-agg
    0.69 s vs joined-then-agg 0.82 s steady-state."""
    from streamclient_spark.compat import limb_sums, limb_value, scaled2

    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    disc_s = scaled2("l_extendedprice") * (
        F.lit(100) - scaled2("l_discount")
    )
    per_cust = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(*limb_sums(disc_s, "rev"))
    )
    return (
        per_cust.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey", "c_name",
            limb_value("rev", 4).alias("revenue"),
            "c_acctbal", "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution — a filtered
    LEFT OUTER join (the filter lives in the join condition, not a
    WHERE — customers with zero qualifying orders must survive with
    count 0), then a histogram of the per-customer counts.

    100 TB plan: the aggregate is pushed BELOW the outer join —
    orders pre-aggregates to one (custkey, count) row per customer
    (partial+final on the custkey shuffle), and customer left-joins
    that reduced table instead of the raw fact, so the join moves
    |customers-with-orders| rows, not |orders|. The outer-join
    null→0 coalesce reproduces COUNT over an empty group. The second
    aggregate's key space is tiny (distinct counts) and map-side
    combines to near nothing. Same rewrite Catalyst cannot do itself
    (aggregate pushdown through outer join isn't in its rule set) —
    measured equivalent and hash-identical to the literal form."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy(F.col("o_custkey"))
        .agg(F.count("*").alias("_n"))
    )
    return (
        c.join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("_n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@register(
    "q_tpch_q15",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: top supplier — per-supplier quarterly revenue,
    keeping the supplier(s) that hit the global maximum.

    The max-equality test runs on the EXACT decimal total (reassembled
    from the long limbs), never on the converted double — exact
    rationals compare identically in both engines, so ties select the
    same set. 100 TB plan: one suppkey-shuffled partial+final
    aggregate of the quarter's lineitems; the global max is a scalar
    aggregate of the |suppliers| revenue table, broadcast back via a
    cross join (one row — never a single-partition window); the
    supplier join is unhinted (fact-scaled dim, AQE decides). The
    revenue table feeds BOTH the scalar max and the equality join;
    without a persist Spark recomputes the whole scan+aggregate
    lineage once per consumer (no cross-branch CSE) — measured 2.9 s
    → 1.3 s at sf1. The persisted table is |suppliers| rows and is
    released by the next builder (cacheutil)."""
    from streamclient_spark.cacheutil import managed_persist, release_managed
    from streamclient_spark.compat import limb_sums, scaled2
    from decimal import Decimal

    release_managed()

    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    disc_s = scaled2("l_extendedprice") * (
        F.lit(100) - scaled2("l_discount")
    )
    # exact decimal total (hi·2^20 + lo scaled by 1e-4) — comparisons
    # happen on this, the double conversion happens once at the end
    total = (
        (
            F.col("_rev_hi").cast("decimal(38,0)") * F.lit(1 << 20)
            + F.col("_rev_lo").cast("decimal(38,0)")
        )
        * F.lit(Decimal("0.0001"))
    ).alias("total_rev")
    rev = managed_persist(
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(*limb_sums(disc_s, "rev"))
        .select("supplier_no", total)
    )
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("_mx"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


@register(
    "q_tpch_q17",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
           / 7.0 AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#3'
      AND p_size = 7
      AND l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(27,4)))
                           AS DOUBLE) / COUNT(*))
        FROM lineitem l2
        WHERE l2.l_partkey = p_partkey)
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity-order revenue — lines whose
    quantity is under 20% of the part's own average quantity, for one
    brand/size slice of parts.

    The correlated scalar subquery decorrelates into a per-part
    aggregate JOINED back to the same rows. Key scale decision: the
    per-part average is computed over the lineitems OF THE QUALIFYING
    PARTS ONLY (first the selective part filter + partkey join, then
    the aggregate on the already-reduced set) — the oracle's
    formulation correlates over all of lineitem, but every probed
    p_partkey is a qualifying part, so the result is identical while
    the aggregate input shrinks by the part filter's selectivity
    (1/(25·50) here). The threshold average is exact-decimal
    sum / count with one IEEE multiply by 0.2 — deterministic in both
    engines. Part filter is ultra-selective and unhinted; AQE
    broadcasts the filtered part list and the tiny per-part threshold
    table into the fact."""
    p = (
        load(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#3") & (F.col("p_size") == 7))
        .select("p_partkey")
    )
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    lp = l.join(p, F.col("l_partkey") == F.col("p_partkey"))
    thr = (
        lp.groupBy(F.col("p_partkey").alias("_tk"))
        .agg((F.lit(0.2) * dec_avg("l_quantity")).alias("_thr"))
    )
    return (
        lp.join(thr, F.col("p_partkey") == F.col("_tk"))
        .filter(F.col("l_quantity") < F.col("_thr"))
        .agg((dec_sum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


@register(
    "q_tpch_q19",
    oracle=f"""
    SELECT CAST({_DISC_PRICE_SQL} AS DOUBLE) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
            AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 20 AND 30))
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: discounted revenue for three OR'd
    brand/size/quantity bundles — the classic "disjunction of
    conjunctions" join residual (container/shipmode predicates adapted
    to the fixture's p_size).

    100 TB plan: the per-side implied prefilters are stated
    EXPLICITLY (p_brand ∈ {{3 brands}} ∧ p_size ≤ 15 on part;
    1 ≤ l_quantity ≤ 30 on lineitem) so they push to the scans even
    though Catalyst cannot derive them from the cross-table OR; the
    partkey equi-join then carries the full disjunction as its
    residual. Part after the brand filter is 3/25 of a fact-scaled
    table — unhinted, AQE decides. One partial-aggregated scalar
    sum; no other shuffle."""
    from streamclient_spark.compat import limb_sums, limb_value, scaled2

    bundles = (
        ("Brand#12", 5, 1, 11),
        ("Brand#23", 10, 10, 20),
        ("Brand#24", 15, 20, 30),
    )
    p = load(spark, sf_dir, "part").filter(
        F.col("p_brand").isin(*[b[0] for b in bundles])
        & F.col("p_size").between(1, 15)
    ).select("p_partkey", "p_brand", "p_size")
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    ).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    residual = None
    for brand, max_size, qlo, qhi in bundles:
        arm = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, max_size)
            & F.col("l_quantity").between(qlo, qhi)
        )
        residual = arm if residual is None else (residual | arm)
    disc_s = scaled2("l_extendedprice") * (
        F.lit(100) - scaled2("l_discount")
    )
    return (
        l.join(p, (F.col("l_partkey") == F.col("p_partkey")) & residual)
        .agg(*limb_sums(disc_s, "rev"))
        .select(limb_value("rev", 4).alias("revenue"))
    )


@register(
    "q_tpch_q22",
    oracle=f"""
    SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
           {sql_dec_sum('c_acctbal')} AS totacctbal
    FROM customer
    WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      AND c_acctbal > (
        SELECT {sql_dec_avg('c_acctbal')}
        FROM customer
        WHERE c_acctbal > 0.00
          AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global sales opportunity — customers from a
    set of countries with above-average positive balances and NO
    recent orders (the fixture has no c_phone, so the country code is
    c_nationkey directly; every fixture customer has *some* order, so
    the inactivity test is "no order since 2000" — same NOT-EXISTS
    structure with a selective inner side).

    Decorrelation: the scalar average is a one-row aggregate
    cross-joined (broadcast) into the filtered customers; NOT EXISTS
    is a left_anti join against orders' custkey column. 100 TB plan:
    the country filter pushes to both customer scans; the anti join
    shuffles on custkey (co-located under custkey bucketing) — its
    right side projects ONLY o_custkey so the shuffle moves one long
    per order; the average compares against exact-decimal-derived
    doubles (same bits both engines); final aggregate is ≤7 groups."""
    nations = (1, 3, 5, 7, 9, 11, 13)
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(*nations))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(dec_avg("c_acctbal").alias("_avg"))
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
        )
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            dec_sum("c_acctbal").alias("totacctbal"),
        )
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT p_partkey, attr, val
    FROM (
      SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val
      FROM part
      UNION ALL
      SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE)
      FROM part
    )
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt — wide columns to (key, attr, value) long form,
    the inverse of q_agg_pivot and the standard reshape before
    per-metric aggregation or feature stacking.

    Uses the native ``DataFrame.unpivot`` (Spark's Expand-based melt:
    ONE scan emitting N rows per input row — never N self-union
    scans, which is what the portable UNION ALL oracle literally
    says). 100 TB plan: a stateless Expand projection, no shuffle, no
    Python; output is |cols|× the input rows but each row narrows to
    three columns, so bytes grow only modestly."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    return p.unpivot(
        ["p_partkey"], ["p_size", "p_retailprice"], "attr", "val"
    )


@register(
    "q_agg_salted",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dec_sum('l_quantity')} AS sum_qty,
           {sql_dec_sum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation through
    :func:`streamclient_spark.scale.salted_agg_sum` (n_salts=16),
    attested against the PLAIN single-phase oracle — salting must be
    invisible in the result, which is exactly what this query proves
    (the aggregation twin of q_join_salted).

    l_returnflag has 3 values over the whole fact table — the most
    skewed group key in the fixture (every partition's rows collapse
    onto 3 reducers in a naive plan). Phase 1 aggregates on
    (key, salt) — 48 cells, uniformly spread by the deterministic
    xxhash64 salt — and phase 2 re-combines 48 rows. Decimal sums are
    exact in both phases, so two-phase addition is bit-identical to
    one-phase (associativity holds in exact space; it would NOT hold
    for IEEE doubles — the reason salted float sums can't use this
    attestation). At 100 TB this is the pattern for power-law group
    keys beyond AQE's skew handling."""
    from streamclient_spark.compat import DEC
    from streamclient_spark.scale import salted_agg_sum

    l = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast(DEC).alias("_qty"),
        F.col("l_extendedprice").cast(DEC).alias("_price"),
        "l_orderkey",
        "l_linenumber",
    )
    return salted_agg_sum(
        l,
        "l_returnflag",
        {"_qty": "sum_qty", "_price": "sum_price"},
        n_salts=16,
        salt_from=["l_orderkey", "l_linenumber"],
    ).select(
        "l_returnflag",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_price").cast("double").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# §2C — remaining TPC-H shapes (Q2, Q9, Q11, Q16, Q20, Q21), completing the
# 22-query suite. The fixture has no partsupp table and no commit/receipt
# dates, so each query states its adaptation: the *supply catalog* is the
# distinct (l_partkey, l_suppkey) projection of lineitem (what partsupp
# denormalizes), supply cost is the minimum quoted extended price, and
# "late" is l_shipdate > o_orderdate + 60 days. The decorrelation shape —
# the reason each query is in the suite — is preserved exactly.
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q2",
    oracle="""
    WITH supply AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               MIN(l_extendedprice) AS ps_cost
        FROM lineitem GROUP BY 1, 2
    ), eu AS (
        SELECT ps_partkey, ps_suppkey, ps_cost, s_name, s_acctbal, n_name
        FROM supply, supplier, nation, region
        WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
           ps_suppkey AS s_suppkey, ps_cost AS cost
    FROM part, eu
    WHERE p_partkey = ps_partkey
      AND p_size BETWEEN 10 AND 15 AND p_type = 'STANDARD'
      AND ps_cost = (SELECT MIN(e2.ps_cost) FROM eu e2
                     WHERE e2.ps_partkey = eu.ps_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
    LIMIT 100
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier — a correlated scalar-MIN
    subquery over a region-restricted supply catalog (adaptation: the
    catalog is lineitem's distinct (partkey, suppkey) pairs, cost is
    the minimum quoted l_extendedprice; MIN over doubles is exact, so
    no decimal gymnastics are needed for parity).

    Decorrelation: the correlated ``cost = (SELECT MIN ... WHERE same
    partkey)`` becomes a window MIN over partkey — one shuffle on
    partkey, no self-join, no second scan of the catalog.

    100 TB plan: the selective part filter (~0.3% survive) is joined
    into lineitem BELOW the catalog aggregate — the per-(partkey,
    suppkey) MIN is oblivious to other partkeys, so pruning first is
    exact, and the groupBy aggregates 0.3% of the fact instead of all
    of it (r2 aggregated the full 6 M-row catalog first: 1.5 of its
    2.3 s at sf1 was that agg). region (5 rows) broadcasts into
    nation (fixed 25), that product broadcasts into supplier, and the
    pruned supplier side joins BEFORE the window. Correlation safety:
    the per-partkey MIN needs every EUROPEAN supplier of a SURVIVING
    partkey — the part join never drops suppliers within a partkey,
    and the window runs after the supplier restriction. The
    part⋈lineitem join is unhinted: the filtered part side is tiny at
    any scale (a fixed fraction of an already-small dim), AQE
    broadcasts it at runtime. The LIMIT carries a unique total order
    (…, p_partkey, s_suppkey) so the selected row set is
    deterministic."""
    p = load(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 15) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_brand")
    supply = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
            "p_brand",
        )
        .agg(F.min("l_extendedprice").alias("ps_cost"))
        .withColumn("p_partkey", F.col("ps_partkey"))
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = load(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    s = load(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    w = Window.partitionBy("ps_partkey")
    return (
        supply.join(s, F.col("ps_suppkey") == F.col("s_suppkey"))
        .withColumn("_min_cost", F.min("ps_cost").over(w))
        .filter(F.col("ps_cost") == F.col("_min_cost"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            F.col("ps_suppkey").alias("s_suppkey"),
            F.col("ps_cost").alias("cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name",
            "p_partkey", "s_suppkey",
        )
        .limit(100)
    )


@register(
    "q_tpch_q9",
    oracle="""
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(12,2)))
                    - CAST(p_retailprice AS DECIMAL(12,2))
                      * CAST(0.5 AS DECIMAL(2,1))
                      * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
           AS sum_profit
    FROM part, supplier, lineitem, orders, nation
    WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      AND p_name LIKE 'red%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by nation and order year —
    the widest join tree in the suite (two fact⋈fact joins plus three
    dimension joins) with a LIKE filter on the part name (adaptation:
    no partsupp, so supply cost is 0.5·p_retailprice per unit; profit
    = discounted price − cost·quantity, which can go negative).

    100 TB plan (r9 refresh, the q8 lesson applied): part filters on
    the name prefix at its scan (~12% of parts) and joins lineitem on
    partkey FIRST — that is the only filter in the query, so applying
    it before the orderkey shuffle cuts the fact ~8×. The nation NAME
    attaches to supplier through a 25-entry LITERAL MAP on
    s_nationkey (nation is fixed-size at every TPC-H sf; the isin
    reproduces the oracle's inner-join drop of NULL/orphan keys
    exactly, as in q_tpch_q8) — one less BroadcastExchange chain. The
    orders join moves the reduced fact once, as a SHUFFLED HASH join:
    nothing downstream wants sort order (the profit agg hashes), so
    the SMJ's two full sorts are pure waste — the q_lead_time
    precedent; with lineitem and orders bucketed by orderkey it is
    co-located and the hint is moot. The part/supplier broadcasts are
    SIZE-GATED through ``broadcast_if_small`` (r10, ADVICE r9 medium):
    above the static-estimate ceiling they come off by construction
    and AQE owns the strategy. A/B at sf1: 1.53 s lean
    first-position vs 1.77 s old warm-second (BENCH_NOTES r9).
    Profit sums through signed long limbs: x = (x>>20)·2^20 +
    (x & mask) holds in two's-complement for negative values too
    (arithmetic shift floors, the masked low limb is non-negative),
    so the reassembled decimal is exact — the same rational the
    oracle's decimal SUM produces. Final group count is 25 nations ×
    7 years, map-side combined to nothing."""
    from itertools import chain

    from streamclient_spark.compat import limb_sums, limb_value, scaled2

    # bounded dim collect: 25 rows at every TPC-H sf
    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .collect()
    }
    name_map = F.create_map(
        *chain.from_iterable(
            (F.lit(k), F.lit(v)) for k, v in sorted(nat.items())
        )
    )
    p = load(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    ).select("p_partkey", "p_retailprice")
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey").isin(sorted(nat)))
        .select("s_suppkey", name_map[F.col("s_nationkey")].alias("nation"))
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    # 1e-4 units: cents × cents for the price term; cents × the exact
    # half-retail in half-cents ×10 for the cost term (retail·50·qty
    # is cents·½·100·qty = the same 1e-4 scale; quantity is integral).
    profit = (
        scaled2("l_extendedprice") * (F.lit(100) - scaled2("l_discount"))
        - scaled2("p_retailprice") * F.lit(50)
        * F.col("l_quantity").cast("bigint")
    )
    return (
        l.join(
            broadcast_if_small(p, sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            broadcast_if_small(s, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            o.hint("SHUFFLE_HASH"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(*limb_sums(profit, "profit"))
        .select(
            "nation", "o_year", limb_value("profit", 4).alias("sum_profit")
        )
    )


@register(
    "q_tpch_q11",
    oracle="""
    WITH natl AS (
        SELECT l_partkey AS partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS val
        FROM lineitem, supplier, nation
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_3'
        GROUP BY 1
    )
    SELECT partkey, CAST(val AS DOUBLE) AS value
    FROM natl
    WHERE val > (SELECT SUM(val) * 0.001 FROM natl)
    ORDER BY value DESC, partkey
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: important-stock identification — a grouped
    aggregate filtered against a scalar subquery over the SAME
    aggregate (group share > 0.1% of the national total). Adaptation:
    no partsupp, so "stock value" is one nation's discounted revenue
    per part from lineitem.

    Decorrelation: the scalar total is a second aggregate OVER THE
    GROUPED RESULT (|parts| rows, not the fact), cross-joined back as
    a broadcast single row — the fact is scanned and shuffled exactly
    once: the grouped result is persisted (managed, released by the
    next cache-using query) because Spark does not share the subtree
    between the threshold branch and the output branch — without the
    persist, BOTH branches rescan and reshuffle lineitem. At 100 TB
    the per-part aggregate (|parts| rows) is exactly what you would
    materialize anyway. The share comparison runs in exact decimal
    space (both sides exact, ×0.001 is a scale shift), so the
    predicate is engine-identical; the double conversion happens only
    in the output projection.

    100 TB plan: nation (1 row after the filter) broadcasts into
    supplier, that ~4%-of-suppliers set broadcasts-or-shuffles into
    the fact (AQE's call), one shuffle on partkey for the group-by,
    then a 1-row broadcast for the threshold. No second fact scan,
    no correlated re-execution."""
    from streamclient_spark.cacheutil import managed_persist, release_managed

    release_managed()
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = load(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    from streamclient_spark.compat import dec2

    val = F.sum(
        dec2("l_extendedprice") * (F.lit(1) - dec2("l_discount"))
    ).alias("val")
    natl = managed_persist(
        l.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(val)
    )
    total = natl.agg(
        (F.sum("val") * F.lit(0.001).cast("decimal(4,3)")).alias("_thresh")
    )
    return (
        natl.join(F.broadcast(total))
        .filter(F.col("val") > F.col("_thresh"))
        .select("partkey", F.col("val").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), "partkey")
    )


@register(
    "q_tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part, lineitem
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#13'
      AND p_type NOT IN ('PROMO', 'ECONOMY')
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: parts/supplier relationship — COUNT(DISTINCT
    supplier) per part attribute triple, excluding a supplier
    denylist via NOT IN (adaptation: no partsupp → the supply
    relation is lineitem; no s_comment → the "complaints" denylist is
    suppliers with negative account balance).

    100 TB plan: the NOT IN becomes a left-anti join against the
    denylist — null-safe by construction (s_suppkey is a key, never
    null; a general NOT IN needs the null-aware variant Catalyst picks
    for `anti` with `eqNullSafe`). The denylist is supplier-scaled, so
    it carries NO broadcast hint: AQE broadcasts it while it measures
    small and shuffles it when it does not. All three part
    predicates push to part's scan (~10% of parts survive); the
    part⋈lineitem join is unhinted for AQE. COUNT(DISTINCT) expands
    to the standard two-phase plan: partial distinct on (brand, type,
    size, suppkey) map-side, then the count — the shuffle moves
    surviving distinct pairs only, not the fact."""
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & ~F.col("p_type").isin("PROMO", "ECONOMY")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    deny = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    l = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(deny, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_tpch_q20",
    oracle="""
    SELECT s_name, n_name
    FROM supplier, nation
    WHERE s_nationkey = n_nationkey AND n_name = 'NATION_1'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'small%')
        GROUP BY l_suppkey, l_partkey
        HAVING 2 * SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                             AND l_shipdate < TIMESTAMP '1998-01-01'
                            THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
               > SUM(CAST(l_quantity AS BIGINT)))
    ORDER BY s_name
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: potential part promotion — the nested
    IN-chain (supplier IN (… part IN (…) … HAVING correlated
    half-sum)). Adaptation: no partsupp availqty, so the excess test
    is "shipped more of the part in 1997 than in all other years
    combined"; "forest%" parts become the 'small%' name prefix.

    Decorrelation: the inner correlated pair (per-(supplier, part)
    1997 quantity vs total quantity) is ONE grouped aggregate with a
    conditional sum — not two subqueries — and the two IN chains are
    left-semi joins. Quantity is integral, so the sums are plain long
    arithmetic and the half comparison is the exact integer test
    ``2·q97 > q_total`` (no 0.5 float factor on either engine).

    100 TB plan: the part name filter pushes to part's scan; the
    filtered partkey set semi-joins the fact BEFORE its group-by
    (broadcast at fixture scale, AQE decides at 100 TB), so the
    (suppkey, partkey) aggregate shuffles only matching lines. The
    qualifying-supplier set is distinct-projected (tiny) and
    semi-joins the nation-filtered supplier table broadcast-side."""
    p = load(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate",
        F.col("l_quantity").cast("bigint").alias("_qty"),
    )
    in97 = (
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    excess = (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in97, F.col("_qty")).otherwise(F.lit(0)))
            .alias("_q97"),
            F.sum("_qty").alias("_qall"),
        )
        .filter(F.lit(2) * F.col("_q97") > F.col("_qall"))
        .select("l_suppkey")
        .distinct()
    )
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    s = load(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "n_name")
    return (
        s.join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@register(
    "q_tpch_q21",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND s_nationkey = n_nationkey AND n_name = 'NATION_2'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who kept orders waiting — the
    suite's hardest decorrelation: an EXISTS and a NOT EXISTS, both
    correlated to the outer fact row AND (through o_orderdate) to the
    outer orders row. Adaptation: no receipt/commit dates, so "late"
    is shipped >60 days after the order date; 'F' orders only.

    Decorrelation (r10 single-branch rewrite, VERDICT r9 #3): both
    subqueries collapse into per-order stats over the
    (order, supplier) PAIR TABLE — nsupp = suppliers in the order,
    nlate = suppliers with a late line. For a late outer line,
    EXISTS(other supplier) ⟺ nsupp ≥ 2 and NOT EXISTS(other late
    supplier) ⟺ nlate = 1 (the outer supplier IS the one late
    supplier). The r9 shape kept a second branch of the fact join
    (late lines re-joined to the stats), re-executing the l⋈o join
    from reused exchanges; now the first aggregate keeps the per-pair
    LATE-LINE COUNT, order stats come from a window over the pair
    table (|pairs| ≈ |orders|·few rows, one cheap exchange), and the
    outer count(*) is recovered as sum(_late_lines) — the fact is
    scanned, joined and aggregated EXACTLY once, never revisited.
    Clean A/B at sf1, canary green both ends (probe 0.21/0.14 s):
    1.03 s vs 1.19 s warm min-of-8 — and the r9 noisy-session 2.87 s
    ledger row resolves to a sub-bar floor (BENCH_NOTES r10).

    100 TB plan: o_orderstatus pushes to orders' scan (~1/3); with
    lineitem and orders bucketed by orderkey the join is co-located.
    The per-pair aggregate is partial-combined map-side; everything
    after it is pair-table-sized. The supplier⋈nation probe
    broadcasts nation; the final per-name count is |suppliers in one
    nation| groups. LIMIT carries (numwait DESC, s_name) — s_name is
    unique, so the selected set is deterministic."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "_late",
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    # one-level-lower aggregate than two COUNT(DISTINCT)s (which would
    # Expand 2× the joined fact): one row per (order, supplier) with
    # its late-line count, partial-combined map-side
    per_supp = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("_late"), 1).otherwise(0)).alias("_late_lines")
    )
    w = Window.partitionBy("l_orderkey")
    cand = per_supp.select(
        "l_suppkey",
        "_late_lines",
        F.count(F.lit(1)).over(w).alias("_nsupp"),
        F.sum(
            F.when(F.col("_late_lines") > 0, 1).otherwise(0)
        ).over(w).alias("_nlate"),
    ).filter(
        (F.col("_late_lines") > 0)
        & (F.col("_nsupp") >= 2)
        & (F.col("_nlate") == 1)
    )
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    s = load(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    return (
        cand.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("_late_lines").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# §2C — distributed global ranking (scale.ranked_by_range attestation)
# ---------------------------------------------------------------------------


@register(
    "q_rank_global",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           CAST(ROW_NUMBER() OVER (
             ORDER BY l_extendedprice, l_orderkey, l_linenumber
           ) AS BIGINT) AS rank
    FROM lineitem
    """,
)
def q_rank_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global row-number over the whole fact table WITHOUT the
    single-task sort a bare ``ROW_NUMBER() OVER (ORDER BY ...)``
    window forces — attested cell-for-cell against exactly that window
    form as the oracle. Uses :func:`streamclient_spark.scale.
    ranked_by_range`: range-partition on the order columns, per-
    partition local numbering in one Arrow pass, then a broadcast
    prefix-sum of partition counts. The order key carries the
    (l_orderkey, l_linenumber) tie-break, making the order total so
    the decomposed rank is identical to the window's.

    100 TB plan: the only full-data movement is one range Exchange
    (what any global sort needs); the serial section is a
    |partitions|-row prefix sum on the driver-side broadcast. The
    window oracle formulation, by contrast, funnels all rows through
    ONE reducer — the fixture-scale check proves equivalence; the
    decomposition is why it survives the 1000-executor cluster."""
    from streamclient_spark.scale import ranked_by_range

    # the raw projection is NOT cached: the layout probe prunes to
    # the single l_extendedprice column (cheaper than caching the full
    # 3-column payload the placement pass needs)
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return ranked_by_range(
        l, ["l_extendedprice", "l_orderkey", "l_linenumber"]
    )


# ---------------------------------------------------------------------------
# §2C — mergeable-sketch aggregation (HLL partials, the 100 TB
# pre-aggregation pattern) and bucketed-layout join attestation
# ---------------------------------------------------------------------------


@register("q_agg_sketch_merge")  # rows-only: the sketch binary is
# DataSketches-specific, so no DuckDB oracle exists; the mergeability
# property itself is pinned by tests/test_llm_ops.py
def q_agg_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch aggregation: per-day HyperLogLog sketches of
    distinct users, re-unioned to per-event-type totals, against the
    single-pass sketch and the exact distinct count. This is THE
    pre-aggregation pattern for distinct counting at 100 TB: a daily
    rollup stores O(2^lgK) sketch bytes per series instead of the user
    set itself, any coarser granularity is a register-wise max (union)
    over the partials, and the merge is associative/commutative — so
    incremental maintenance, retries, and partition order cannot
    change the estimate.

    ``merge_consistent`` asserts the union-of-partials estimate equals
    the direct single-pass estimate — true because BOTH paths are
    merges of per-partition partial sketches over the same rows (the
    'direct' agg is itself two-phase under the hood); the test
    additionally pins estimates within 5% of the exact count. Rows-only
    driver check: DuckDB's approx sketch is a different algorithm, so
    no cross-engine oracle is possible — the exactness doctrine here is
    *self*-consistency, not cross-engine hashing."""
    e = load(spark, sf_dir, "events")
    direct = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "est_direct"
        ),
        F.countDistinct("user_id").alias("exact_distinct"),
    )
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    return direct.join(merged, "event_type").select(
        "event_type",
        "exact_distinct",
        "est_direct",
        "est_merged",
        (F.col("est_direct") == F.col("est_merged"))
        .cast("int")
        .alias("merge_consistent"),
    )


@register(
    "q_join_bucketed",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           {sql_dec_sum('o_totalprice')} AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-Exchange co-located join through the bucketed layout
    (scale.write_bucketed attestation — the query twin of the
    plan-proof in tests/test_scale.py): both sides are materialized
    hash-bucketed by the join key, so the join needs NO shuffle — the
    scan itself reports the partitioning — and the aggregate's answer
    is attested against the plain unbucketed oracle (layout must be
    invisible in the result).

    At 100 TB this is the difference between shuffling the fact table
    on every join and never shuffling it at all: bucket layout is a
    write-once contract (facts sharing join keys share the bucket
    count), and every subsequent join/aggregate on the key is
    Exchange-free. The fixture pays one bucketed rewrite per session
    (tables are recreated if absent); the plan assertion lives in
    tests/test_plans.py."""
    from streamclient_spark.scale import bucketed_session, write_bucketed

    bucketed_session(spark)
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    to, tc = f"b_orders_{tag}", f"b_customer_{tag}"
    cat = spark.catalog
    if not (cat.tableExists(to) and cat.tableExists(tc)):
        # a previous session's managed-table directories may survive in
        # the warehouse while the (in-memory) catalog starts empty —
        # clear them or saveAsTable fails with LOCATION_ALREADY_EXISTS
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for t in (to, tc):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
        write_bucketed(
            load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
            to,
            "o_custkey",
            8,
        )
        write_bucketed(
            load(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            tc,
            "c_custkey",
            8,
        )
    o, c = spark.table(to), spark.table(tc)
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("total_price"),
        )
    )


@register(
    "q_agg_mode",
    oracle="""
    SELECT l_returnflag,
           CAST(qty_mode AS BIGINT) AS qty_mode,
           CAST(mode_count AS BIGINT) AS mode_count
    FROM (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty_mode,
             count(*) AS mode_count,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY count(*) DESC, CAST(l_quantity AS BIGINT)
             ) AS rn
      FROM lineitem
      GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
    )
    WHERE rn = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most-frequent value) aggregate with a deterministic
    tie-break — engines' built-in ``mode()`` functions pick an
    ARBITRARY winner on ties, so both sides compute it the explicit
    way: count per (group, value), then keep the (count DESC, value
    ASC) winner per group. The decomposition is also the scalable one:
    the first aggregate is partial+final on a (group, value) key —
    near-uniform, no skew even when the group key itself is 3 values —
    and the ranking window runs over |distinct values| rows per group,
    not raw data. Spark's per-group top-1 lowers to WindowGroupLimit
    (per-partition heaps) like every other top-k in this engine."""
    l = load(spark, sf_dir, "lineitem")
    counted = (
        l.groupBy("l_returnflag", F.col("l_quantity").cast("long").alias("qty_mode"))
        .agg(F.count(F.lit(1)).alias("mode_count"))
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("mode_count"), F.asc("qty_mode")
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", "qty_mode", "mode_count")
    )


@register(
    "q_dq_profile",
    oracle="""
    SELECT 'o_orderkey' AS col, count(*) AS n,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_str,
           CAST(max(o_orderkey) AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*),
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           CAST(min(o_orderstatus) AS VARCHAR),
           CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*),
           CAST(count(*) - count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           CAST(min(o_orderpriority) AS VARCHAR),
           CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*),
           CAST(count(*) - count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS VARCHAR),
           CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    """,
)
def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profile — row count, null count, distinct
    count, min/max per column in long form, the health check every
    ingestion pipeline runs before training data ships. The oracle
    spells the stats as one UNION branch per column; the engine makes
    ONE scan: ``stack`` unpivots the four columns to narrow
    ``(col, v_str, v_num)`` rows (map-side only — no shuffle sees the
    4×), then a two-level aggregate computes every measure at once.

    Exact distinct WITHOUT the multi-countDistinct Expand (the r2 plan
    multiplied every row ×4 through Expand and was 26× the oracle at
    sf1): integer columns aggregate into fixed 4 KB bitmap buckets
    (``bitmap_construct_agg`` over ``bitmap_bit_position``, the
    q_agg_bitmap technique) and low-cardinality string columns group
    by their value, so the shuffle after the map-side partial carries
    only (col, bucket, bitmap) rows plus one row per distinct string —
    Σ|buckets| + Σ|distinct strings|, never data rows. Popcount sums
    and the string-group count recombine into the exact n_distinct.

    min/max project to strings so one schema covers heterogeneous
    column types; numeric min/max is taken on the numeric value and
    cast at the end (lexicographic min over digit strings would be
    wrong). At 100 TB: one pass, two tiny shuffles, no Expand — the
    plan test pins Expand's absence."""
    o = load(spark, sf_dir, "orders")
    # PRECONDITION (bitmap path): every column routed through v_num must
    # be STRICTLY POSITIVE — bitmap_bucket_number/bitmap_bit_position are
    # defined on 1-based positive longs, and bucket 0 is reserved below
    # for the string/null rows; a zero or negative numeric value would
    # collide with that pinned bucket and silently corrupt n_distinct.
    # o_orderkey and o_custkey are ≥ 1 by TPC-H construction. To profile
    # a column that can be ≤ 0, either offset it (v_num - min + 1, one
    # extra agg for the min) or route it through the v_str string path,
    # which is exact for any value at the cost of shuffling one row per
    # distinct value.
    long_form = o.selectExpr(
        "stack(4, "
        "'o_orderkey', CAST(o_orderkey AS STRING), "
        "CAST(o_orderkey AS BIGINT), "
        "'o_orderstatus', o_orderstatus, CAST(NULL AS BIGINT), "
        "'o_orderpriority', o_orderpriority, CAST(NULL AS BIGINT), "
        "'o_custkey', CAST(o_custkey AS STRING), "
        "CAST(o_custkey AS BIGINT)"
        ") AS (col, v_str, v_num)"
    )
    per_bucket = (
        long_form
        # integer values land in their bitmap bucket; string values are
        # their own sub-key (bucket pinned to 0). A null value joins the
        # (col, 0, NULL) group: counted in n, absent from every distinct.
        .groupBy(
            "col",
            F.coalesce(
                F.bitmap_bucket_number(F.col("v_num")), F.lit(0)
            ).alias("bkt"),
            F.when(F.col("v_num").isNull(), F.col("v_str")).alias("skey"),
        )
        .agg(
            F.bitmap_construct_agg(
                F.bitmap_bit_position(F.col("v_num"))
            ).alias("bm"),
            F.count(F.lit(1)).alias("cnt"),
            F.count("v_str").alias("cnt_nonnull"),
            F.min("v_num").alias("mn_num"),
            F.max("v_num").alias("mx_num"),
        )
    )
    prof = per_bucket.groupBy("col").agg(
        F.sum("cnt").alias("n"),
        (F.sum("cnt") - F.sum("cnt_nonnull")).alias("n_null"),
        (
            F.coalesce(F.sum(F.bitmap_count(F.col("bm"))), F.lit(0))
            + F.count("skey")
        )
        .cast("long")
        .alias("n_distinct"),
        F.min("mn_num").alias("mn_num"),
        F.max("mx_num").alias("mx_num"),
        F.min("skey").alias("mn_s"),
        F.max("skey").alias("mx_s"),
    )
    return prof.select(
        "col",
        "n",
        "n_null",
        "n_distinct",
        F.coalesce(F.col("mn_num").cast("string"), F.col("mn_s")).alias(
            "min_str"
        ),
        F.coalesce(F.col("mx_num").cast("string"), F.col("mx_s")).alias(
            "max_str"
        ),
    )


@register(
    "q_agg_stats",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS DECIMAL(38,0)) AS n,
             SUM(CAST(CAST(round(l_quantity * 100) AS BIGINT)
                 AS DECIMAL(38,0))) AS sx,
             SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                 AS DECIMAL(38,0))) AS sy,
             SUM(CAST(CAST(round(l_quantity * 100) AS BIGINT)
                 * CAST(round(l_quantity * 100) AS BIGINT)
                 AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)
                 AS DECIMAL(38,0))) AS syy,
             SUM(CAST(CAST(round(l_quantity * 100) AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)
                 AS DECIMAL(38,0))) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round(CAST(n * sxx - sx * sx AS DOUBLE)
                 / CAST(n * n AS DOUBLE) / 10000.0, 6) AS var_qty,
           round(SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                      / CAST(n * n AS DOUBLE) / 10000.0), 6) AS stddev_qty,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * n AS DOUBLE) / 10000.0, 6) AS covar_qty_price,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 9)
             AS corr_qty_price
    FROM s
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family — population variance, standard
    deviation, covariance, and Pearson correlation — computed from
    EXACT integer moment sums, never the engines' built-in
    ``stddev``/``corr`` (those accumulate doubles in partition order,
    so two engines — or two runs — disagree in the last ulps). The
    doctrine extends the money-sum convention to second moments: scale
    both measures to exact cents, sum n/Σx/Σy/Σx²/Σy²/Σxy as exact
    integers (the one product whose sum exceeds int64, Σy², runs as a
    two-limb long sum), then evaluate the closed forms
    (n·Σx²−(Σx)²)/n² etc. with TEXTUALLY IDENTICAL double expressions
    on both engines — exact integers convert to the same doubles, and
    the same IEEE ops in the same order give bit-identical results.

    This is also the 100 TB shape: one partial+final hash aggregate
    carrying 7 long accumulators per group (DuckDB's int128 sums and
    the limb trick are the same idea), no second pass, no
    Welford-order sensitivity, retry/partitioning-independent. At
    larger row counts the narrower sums migrate to limbs too (margins
    documented in compat.py)."""
    l = load(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity") * 100).cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    shift = 20
    mask = (1 << shift) - 1
    yy = y * y
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(F.shiftright(yy, shift)).alias("_syy_hi"),
        F.sum(yy.bitwiseAND(F.lit(mask))).alias("_syy_lo"),
        F.sum(x * y).alias("sxy"),
    )
    dec = "decimal(38,0)"
    n = F.col("n").cast(dec)
    sx, sy = F.col("sx").cast(dec), F.col("sy").cast(dec)
    sxx, sxy = F.col("sxx").cast(dec), F.col("sxy").cast(dec)
    syy = (
        F.col("_syy_hi").cast(dec) * F.lit(1 << shift)
        + F.col("_syy_lo").cast(dec)
    )
    numx = (n * sxx - sx * sx).cast("double")
    numy = (n * syy - sy * sy).cast("double")
    numc = (n * sxy - sx * sy).cast("double")
    nn = (n * n).cast("double")
    return s.select(
        "l_returnflag",
        "n",
        F.round(numx / nn / F.lit(10000.0), 6).alias("var_qty"),
        F.round(F.sqrt(numx / nn / F.lit(10000.0)), 6).alias("stddev_qty"),
        F.round(numc / nn / F.lit(10000.0), 6).alias("covar_qty_price"),
        F.round(numc / F.sqrt(numx * numy), 9).alias("corr_qty_price"),
    )


@register(
    "q_agg_argmax",
    oracle="""
    SELECT o_orderpriority,
           (max(struct_pack(p := o_totalprice, k := o_orderkey))).k
             AS top_order,
           (max(struct_pack(p := o_totalprice, k := o_orderkey))).p
             AS top_price,
           (min(struct_pack(p := o_totalprice, k := o_orderkey))).k
             AS bottom_order
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregation ("which order had the highest price
    per priority") with a DETERMINISTIC tie rule — the built-in
    ``max_by``/``min_by`` pick an arbitrary winner on ties in both
    engines, so the engine computes ``max(struct(ord, key))`` instead:
    struct comparison is lexicographic, making the key an explicit
    tie-break, and struct min/max are ordinary associative aggregates
    (partial+final, retry/partition-order independent — max_by with an
    arbitrary tie rule is NOT stable across retries, which matters for
    effectively-once pipelines).

    100 TB plan: one partial+final hash aggregate; the struct payload
    is (double, long) — 16 bytes of accumulator per group."""
    o = load(spark, sf_dir, "orders")
    s = F.struct(
        F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")
    )
    return o.groupBy("o_orderpriority").agg(
        F.max(s).getField("k").alias("top_order"),
        F.max(s).getField("p").alias("top_price"),
        F.min(s).getField("k").alias("bottom_order"),
    )


@register(
    "q_agg_listagg",
    oracle="""
    SELECT lang,
           string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): the distinct
    values of a group rendered as one canonically-ordered string.
    Determinism rule: an UNORDERED listagg is nondeterministic in any
    engine (concatenation order = arrival order), so the engine always
    sorts the collected set before joining — ``collect_set`` →
    ``array_sort`` → ``array_join``, matching the oracle's
    ``ORDER BY`` clause.

    100 TB plan: collect_set is an associative set-union aggregate
    (partial+final); the per-group payload must be bounded (here ≤20
    sources) — unbounded-cardinality groups should aggregate counts,
    not strings (the same rule as any collect_*)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias(
            "sources"
        ),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "q_dq_skew",
    oracle="""
    WITH c AS (
      SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey
    ), t AS (
      SELECT count(*) AS total FROM lineitem
    )
    SELECT l_suppkey, cnt, CAST((1000 * cnt) // total AS BIGINT) AS permille
    FROM c, t
    ORDER BY cnt DESC, l_suppkey LIMIT 20
    """,
)
def q_dq_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile: the top-20 heavy-hitter values of a
    shuffle key (`l_suppkey`) with exact counts and integer-permille
    share of the table.  This is the diagnostic that decides whether a
    key needs `scale.salted_join` / AQE skew handling before a 100 TB
    join — run it on the key you are about to shuffle on.

    Determinism: share is exact integer permille (``1000*cnt div
    total`` — no float division), and the top-20 cut breaks count ties
    by key, so the reported set is unique.

    100 TB plan: one partial+final hash aggregate on the key (the
    profile is itself skew-immune: partial aggregation collapses each
    hot key map-side), a 1-row total broadcast-joined onto the per-key
    counts, and a TakeOrderedAndProject top-k — no full sort, no
    second scan of the fact: the per-key count table (O(distinct
    keys), orders of magnitude smaller than the fact) is persisted so
    the total sums from it rather than re-scanning (Spark does not CSE
    across DataFrame branches — same rule as q_tpch_q11)."""
    from streamclient_spark.cacheutil import managed_persist, release_managed

    release_managed()
    li = load(spark, sf_dir, "lineitem").select("l_suppkey")
    counts = managed_persist(
        li.groupBy("l_suppkey").agg(F.count("*").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "l_suppkey",
            "cnt",
            F.expr("CAST((1000 * cnt) div total AS BIGINT)").alias(
                "permille"
            ),
        )
        .orderBy(F.col("cnt").desc(), F.col("l_suppkey"))
        .limit(20)
    )


@register(
    "q_join_interval",
    oracle="""
    SELECT a.o_orderkey, a.o_custkey,
           CAST(count(b.o_orderkey) AS BIGINT) AS n_overlap
    FROM orders a LEFT JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND b.o_orderkey <> a.o_orderkey
     AND b.o_orderdate < a.o_orderdate + INTERVAL 30 DAY
     AND a.o_orderdate < b.o_orderdate + INTERVAL 30 DAY
    GROUP BY a.o_orderkey, a.o_custkey
    """,
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: for every order, how many OTHER
    orders of the same customer have a [date, date+30d) activity
    window overlapping this order's window.  The canonical temporal
    pattern (overlapping validity intervals, concurrent sessions)
    that Spark has no native interval join for.

    Scale rule demonstrated here: an interval join is only tractable
    when an EQUI prefix bounds the candidate set — the join keys on
    ``o_custkey`` (co-partitioning both sides) and the overlap test
    ``|a.date − b.date| < 30 d`` rides along as a residual predicate
    on the matched pairs, so candidates are per-customer, never
    corpus×corpus.  Without a natural equi key, the same shape needs
    time-bucket blocking (explode each interval to its 30-day grid
    cells, equi-join on cell, dedupe) — the streaming twin is the
    time-bound stream-stream join in streaming/joins.py.

    100 TB plan: one shuffle of each side on ``o_custkey`` (or zero
    with the bucketed layout of C-21), SMJ with the non-equi residual,
    then the count groups on ``(o_orderkey, o_custkey)`` — a subset of
    rows already co-located per customer partition, so AQE can keep it
    local.  LEFT join keeps single-order customers with n_overlap=0."""
    o = load(spark, sf_dir, "orders")
    a = o.select("o_orderkey", "o_custkey", "o_orderdate")
    b = o.select(
        F.col("o_orderkey").alias("b_orderkey"),
        F.col("o_custkey").alias("b_custkey"),
        F.col("o_orderdate").alias("b_orderdate"),
    )
    pairs = a.join(
        b,
        (F.col("o_custkey") == F.col("b_custkey"))
        & (F.col("b_orderkey") != F.col("o_orderkey"))
        & (F.col("b_orderdate") < F.expr("o_orderdate + INTERVAL 30 DAYS"))
        & (F.col("o_orderdate") < F.expr("b_orderdate + INTERVAL 30 DAYS")),
        "left",
    )
    return pairs.groupBy("o_orderkey", "o_custkey").agg(
        F.count("b_orderkey").alias("n_overlap")
    )


@register(
    "q_table_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 0
    ), new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0
                  THEN round(o_totalprice + 1.0, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 13 <> 0
    )
    SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           old.o_totalprice AS old_price,
           new.o_totalprice AS new_price
    FROM old FULL JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
       OR old.o_orderstatus <> new.o_orderstatus
       OR old.o_totalprice <> new.o_totalprice
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC derivation): given two keyed snapshots of the
    same table, emit each key that was added, removed, or changed —
    the comparison step behind incremental re-processing, replication
    audit, and "what changed since the last training-data cut".  The
    two snapshots are deterministic derivations of the fixture
    (drop-every-10th vs drop-every-13th with every-7th price bumped)
    so both engines diff the same inputs.

    Plan: one FULL OUTER equi-join on the key with the
    unchanged-row filter applied on top, so only the delta survives
    the join — Catalyst cannot push the disjunction below the outer
    join (every branch references both sides), but the join itself is
    the only shuffle.

    100 TB plan: both snapshots shuffle once on the key — or ZERO
    times with the bucketed layout of `scale.write_bucketed` (two
    snapshots of the same table share its bucketing, making the diff a
    co-located merge join, the standing-pipeline shape).  The
    'changed' test compares exact column equality — floats compare
    bit-identically because both snapshots derive from the same stored
    values (one `round` on the bumped branch, same literal in both
    engines)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(F.col("o_orderkey") % 10 != 0)
    new = o.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.round(F.col("o_totalprice") + 1.0, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    j = old.alias("old").join(
        new.alias("new"),
        F.col("old.o_orderkey") == F.col("new.o_orderkey"),
        "full",
    )
    return j.filter(
        F.col("old.o_orderkey").isNull()
        | F.col("new.o_orderkey").isNull()
        | (F.col("old.o_orderstatus") != F.col("new.o_orderstatus"))
        | (F.col("old.o_totalprice") != F.col("new.o_totalprice"))
    ).select(
        F.coalesce(F.col("old.o_orderkey"), F.col("new.o_orderkey")).alias(
            "o_orderkey"
        ),
        F.when(F.col("old.o_orderkey").isNull(), "added")
        .when(F.col("new.o_orderkey").isNull(), "removed")
        .otherwise("changed")
        .alias("change"),
        F.col("old.o_totalprice").alias("old_price"),
        F.col("new.o_totalprice").alias("new_price"),
    )


@register(
    "q_dq_outliers",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS DECIMAL(38,0)) AS n,
             SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                 AS DECIMAL(38,0))) AS sx,
             SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)
                 AS DECIMAL(38,0))) AS sxx
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_orderkey, l_linenumber, l.l_returnflag, l_extendedprice
    FROM lineitem l JOIN s ON l.l_returnflag = s.l_returnflag
    WHERE 4 * (n * CAST(round(l_extendedprice * 100) AS BIGINT) - sx)
            * (n * CAST(round(l_extendedprice * 100) AS BIGINT) - sx)
          > 9 * (n * sxx - sx * sx)
    """,
)
def q_dq_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality outlier flag: rows whose value deviates from their
    group's mean by more than 1.5 population standard deviations —
    the per-group anomaly screen that complements q_dq_profile
    (columns) and q_dq_skew (keys). The threshold is 1.5σ because the
    fixture's price distribution is bounded (a 3σ screen on a bounded
    distribution flags nothing); production pipelines tune k.

    Exactness: the test |x−μ| > k·σ is the squared, cleared-denominator
    predicate 4·(n·x − Σx)² > 9·(n·Σx² − (Σx)²) on exact integer cents
    — no float, no division, bit-identical on any engine and any
    partitioning. Σx² accumulates as two long limbs (the compat
    convention) because price-cents squared overflow a long sum at
    fact scale.

    The per-row side, though, never evaluates that decimal128 algebra
    (r2 did, and the decimal multiplies on the fact scan were 3.6× the
    oracle at sf1): with x integer and n > 0 the predicate is exactly
    ⟺ x > ⌊(Σx+T)/n⌋ or x < ⌈(Σx−T)/n⌉ where T = ⌊isqrt(9V)/2⌋,
    V = n·Σx² − (Σx)². The per-group thresholds are computed ONCE from
    the collected group-stats rows in exact arbitrary-precision
    integer arithmetic (``math.isqrt`` — the collect is bounded:
    l_returnflag is an enum, one row per group, same contract as the
    IVF codebook), so the fact-scan filter is two LONG comparisons in
    whole-stage codegen.

    100 TB plan: one partial+final aggregate for the 3-row group-stats
    table; exact thresholds on those 3 rows driver-side; a 3-row
    threshold table broadcast back onto the fact scan — the fact is
    scanned twice but never shuffled, and the filter costs two long
    compares per row."""
    import math

    shift = 20
    mask = (1 << shift) - 1
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("_cents"),
    )
    xx = F.col("_cents") * F.col("_cents")
    stats = (
        l.groupBy(F.col("l_returnflag").alias("_rf"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_cents").alias("_sx"),
            F.sum(F.shiftright(xx, shift)).alias("_sxx_hi"),
            F.sum(xx.bitwiseAND(F.lit(mask))).alias("_sxx_lo"),
        )
        .collect()  # bounded: one row per return-flag enum value
    )
    rows = []
    for r in stats:
        n, sx = int(r["_n"]), int(r["_sx"])
        sxx = (int(r["_sxx_hi"]) << shift) + int(r["_sxx_lo"])
        v = n * sxx - sx * sx  # n²·Var ≥ 0
        t = math.isqrt(9 * v) // 2  # largest T with 4T² ≤ 9V
        hi = (sx + t) // n  # outlier ⟺ x > hi …
        lo = -((t - sx) // n)  # … or x < lo  (= ⌈(Σx−T)/n⌉)
        rows.append((r["_rf"], hi, lo))
    thresholds = spark.createDataFrame(
        rows, schema="_rf string, _hi long, _lo long"
    )
    return (
        l.join(F.broadcast(thresholds), l.l_returnflag == F.col("_rf"))
        .filter(
            (F.col("_cents") > F.col("_hi"))
            | (F.col("_cents") < F.col("_lo"))
        )
        .select(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
        )
    )


@register(
    "q_agg_mad",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.5) AS med
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           min(m.med) AS median_price,
           quantile_cont(abs(o.o_totalprice - m.med), 0.5) AS mad_price,
           count(*) AS n_orders
    FROM orders o JOIN m ON o.o_orderpriority = m.o_orderpriority
    GROUP BY o.o_orderpriority
    """,
)
def q_agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust spread measure
    (breakdown point 50%) that pairs with q_dq_outliers' moment-based
    screen: a handful of corrupt rows move σ arbitrarily but barely
    move the MAD, so robust pipelines screen on |x−med| > k·MAD.

    Two order-statistic passes: the per-group median, broadcast back
    onto the fact, then the median of the absolute deviations.
    Cross-engine exactness needs no rounding: both medians use the same
    linear interpolation on the same doubles (the q_agg_percentile
    parity), and |x−med| is a single IEEE subtraction.

    100 TB plan: the 5-row median table broadcasts; the fact's 2
    pruned columns are scanned twice (deliberate — persisting the raw
    fact projection to save a pruned re-scan is a worse trade at fact
    scale, unlike the small derived frames other queries persist).
    Exact percentile holds per-group value multisets; for groups too
    large for that, swap `approx_percentile` — the operator shape is
    unchanged."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    med = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.5).alias("med")
    )
    return (
        o.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.min("med").alias("median_price"),
            F.percentile(
                F.abs(F.col("o_totalprice") - F.col("med")), 0.5
            ).alias("mad_price"),
            F.count("*").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# q_agg_histogram — equi-width histogram via width_bucket
# ---------------------------------------------------------------------------

_HIST_LO = 0.005  # .005 offsets: no 2-decimal price can sit on a boundary
_HIST_HI = 500000.005
_HIST_N = 50


@register(
    "q_agg_histogram",
    oracle=f"""
    SELECT CASE WHEN o_totalprice < {_HIST_LO} THEN 0
                WHEN o_totalprice >= {_HIST_HI} THEN {_HIST_N} + 1
                ELSE 1 + CAST(FLOOR((o_totalprice - {_HIST_LO})
                              * {_HIST_N} / ({_HIST_HI} - {_HIST_LO}))
                         AS BIGINT)
           END AS bucket,
           COUNT(*) AS n_orders,
           round(MIN(o_totalprice), 2) AS lo_price,
           round(MAX(o_totalprice), 2) AS hi_price
    FROM orders
    GROUP BY 1
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order value via the SQL-standard
    ``width_bucket`` ({_HIST_N} buckets plus under/overflow 0 and
    {_HIST_N}+1) — the one-pass distribution profile behind data-quality
    dashboards and equi-width binning features. The oracle replicates
    Spark's closed form ``1 + floor((v-lo)·n/(hi-lo))`` arithmetically
    (DuckDB has no width_bucket); boundaries sit on .005 offsets so no
    two-decimal price can land within 0.004 of a boundary — float
    rounding cannot move a row across buckets. Single hash aggregate
    over ≤ n+2 groups, partial-agg map-side combined, one tiny
    shuffle."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket(
                F.col("o_totalprice"),
                F.lit(_HIST_LO),
                F.lit(_HIST_HI),
                F.lit(_HIST_N),
            ).alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo_price"),
            F.round(F.max("o_totalprice"), 2).alias("hi_price"),
        )
    )


# ---------------------------------------------------------------------------
# q_join_lateral — LATERAL correlated subquery join
# ---------------------------------------------------------------------------


@register(
    "q_join_lateral",
    oracle="""
    SELECT n.n_name, t.c_custkey, t.c_acctbal, t.pos
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal,
             row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS pos
      FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 2
    ) t
    """,
)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: per nation, its top-2 customers by
    balance — the per-row-subquery API surface (Spark 3.4+ lateral
    join). Catalyst decorrelates this into the same window + filter
    plan as q_topk_group (DataFrame form), so the SQL-level LATERAL
    costs nothing over the hand-written shape: one shuffle on the
    correlation key, ranking window, WindowGroupLimit pre-filter. The
    dim side here is tiny; at scale the correlation key is the join
    partitioning and no per-row re-execution ever happens."""
    from streamclient_spark.sqlapi import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal, t.pos
        FROM nation n, LATERAL (
          SELECT c_custkey, c_acctbal,
                 row_number() OVER (ORDER BY c_acctbal DESC, c_custkey)
                   AS pos
          FROM customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 2
        ) t
        """
    )


# ---------------------------------------------------------------------------
# q_agg_bitmap — exact distinct counting via bitmap aggregation
# ---------------------------------------------------------------------------


@register(
    "q_agg_bitmap",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via BITMAP aggregation —
    the scale path for exact COUNT(DISTINCT) over a dense integer key:
    each partial aggregates its keys into a fixed 4 KB bitmap bucket
    (``bitmap_construct_agg`` over ``bitmap_bit_position``), partials
    OR together (associative, map-side combinable), and popcount sums
    per group — two tiny shuffles of (group, bucket, 4 KB) rows,
    **no** row explosion and no Expand, unlike the generic
    count-distinct rewrite. The oracle is plain COUNT(DISTINCT): the
    bitmap path must reproduce it exactly (bitmaps are exact, not
    sketches — contrast q_agg_approx_cd / q_agg_sketch_merge)."""
    e = load(spark, sf_dir, "events")
    per_bucket = (
        e.select(
            "event_type",
            "user_id",
            F.bitmap_bucket_number(F.col("user_id")).alias("bkt"),
        )
        .groupBy("event_type", "bkt")
        .agg(
            F.bitmap_construct_agg(
                F.bitmap_bit_position(F.col("user_id"))
            ).alias("bm"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count(F.col("bm"))).alias("n_users"),
        F.sum("n").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# q_agg_approx_pct — approximate percentile (bounded-rank-error sketch)
# ---------------------------------------------------------------------------

_APPROX_PCT_ACC = 10000  # 1/accuracy = max rank-error fraction


@register("q_agg_approx_pct")  # estimator-specific → rows-only check;
# the rank-error bound is pinned by tests/test_oracle_parity-adjacent
# property test in tests/test_llm_ops.py
def q_agg_approx_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles per return flag via Spark's
    Greenwald-Khanna-style quantile sketch (``approx_percentile`` with
    accuracy {_APPROX_PCT_ACC} → rank error ≤ n/{_APPROX_PCT_ACC}) —
    the mergeable, single-pass, bounded-memory path for percentiles
    over 100 TB, where the exact order-statistic (q_agg_percentile)
    needs a per-group sort. Sketches combine associatively map-side,
    so the shuffle carries one sketch per (group, partition), never
    rows. Estimator internals are engine-specific (DuckDB's t-digest
    differs) → no value oracle; a property test bounds the rank error
    against the exact percentile instead."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile(
            "l_extendedprice", F.lit(0.5), F.lit(_APPROX_PCT_ACC)
        ).alias("approx_p50"),
        F.approx_percentile(
            "l_extendedprice", F.lit(0.95), F.lit(_APPROX_PCT_ACC)
        ).alias("approx_p95"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# q_table_merge — batch MERGE (apply a keyed changeset to a snapshot)
# ---------------------------------------------------------------------------


@register(
    "q_table_merge",
    oracle="""
    WITH changes AS (
      SELECT c_custkey AS k, 'D' AS op,
             CAST(NULL AS DOUBLE) AS new_bal
      FROM customer WHERE c_custkey % 11 = 0
      UNION ALL
      SELECT c_custkey, 'U', round(c_acctbal + 100.0, 2)
      FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, 'I', round(-c_acctbal, 2)
      FROM customer WHERE c_custkey % 13 = 0
    )
    SELECT COALESCE(c.c_custkey, ch.k) AS c_custkey,
           CASE WHEN ch.op = 'U' OR ch.op = 'I' THEN ch.new_bal
                ELSE round(c.c_acctbal, 2) END AS acctbal,
           CASE WHEN ch.op = 'U' THEN 'updated'
                WHEN ch.op = 'I' THEN 'inserted'
                ELSE 'kept' END AS status
    FROM customer c
    FULL OUTER JOIN changes ch ON c.c_custkey = ch.k
    WHERE ch.op IS NULL OR ch.op <> 'D'
    """,
)
def q_table_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE: apply a keyed changeset (inserts / updates /
    deletes) to a snapshot in one statement — the WHEN MATCHED THEN
    UPDATE / DELETE, WHEN NOT MATCHED THEN INSERT semantics of SQL
    MERGE, expressed as ONE full-outer equi-join + conditional
    projection (OSS Spark has no MERGE on plain parquet; this is the
    canonical rewrite, and the streaming twin is the C-26 dirty-bucket
    upsert sink). The changeset here is derived deterministically from
    the snapshot itself (mod rules on the key) so both engines build
    the identical input with no side files.

    Scale: one shuffle of each side on the merge key — or ZERO
    Exchanges when both sides are bucket-partitioned on the key
    (q_join_bucketed layout); the anti/semi/outer family all reduce to
    the same co-partitioned join. Changed keys are typically ≪
    snapshot, so AQE will broadcast the changeset side."""
    c = load(spark, sf_dir, "customer")
    changes = (
        c.filter(F.col("c_custkey") % 11 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.lit("D").alias("op"),
            F.lit(None).cast("double").alias("new_bal"),
        )
        .unionByName(
            c.filter(
                (F.col("c_custkey") % 7 == 0) & (F.col("c_custkey") % 11 != 0)
            ).select(
                F.col("c_custkey").alias("k"),
                F.lit("U").alias("op"),
                F.round(F.col("c_acctbal") + 100.0, 2).alias("new_bal"),
            )
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1000000).alias("k"),
                F.lit("I").alias("op"),
                F.round(-F.col("c_acctbal"), 2).alias("new_bal"),
            )
        )
    )
    merged = c.join(changes, c["c_custkey"] == changes["k"], "full_outer")
    return merged.filter(
        F.col("op").isNull() | (F.col("op") != "D")
    ).select(
        F.coalesce(F.col("c_custkey"), F.col("k")).alias("c_custkey"),
        F.when(F.col("op").isin("U", "I"), F.col("new_bal"))
        .otherwise(F.round(F.col("c_acctbal"), 2))
        .alias("acctbal"),
        F.when(F.col("op") == "U", F.lit("updated"))
        .when(F.col("op") == "I", F.lit("inserted"))
        .otherwise(F.lit("kept"))
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# q_agg_percentile_disc — discrete (order-statistic) percentiles
# ---------------------------------------------------------------------------


@register(
    "q_agg_percentile_disc",
    oracle="""
    SELECT l_returnflag,
           CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)
                AS DOUBLE) AS q25,
           CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY l_quantity)
                AS DOUBLE) AS q50,
           CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity)
                AS DOUBLE) AS q75,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (percentile_disc / inverse-distribution
    order statistic): the reported value is always an ACTUAL data
    value — the smallest value whose cumulative fraction reaches p —
    never an interpolation (q_agg_percentile covers the continuous
    form). Because the result is picked, not computed, raw doubles
    hash safely with no decimal convention needed. Same execution
    shape as any exact percentile: one shuffle on the group key,
    per-group selection."""
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_pdisc_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)
                 AS q25,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY l_quantity)
                 AS q50,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity)
                 AS q75,
               COUNT(*) AS n
        FROM _pdisc_lineitem
        GROUP BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# q_rollup_grid — multi-granularity time rollup in one Expand
# ---------------------------------------------------------------------------


@register(
    "q_rollup_grid",
    oracle=f"""
    SELECT CASE WHEN GROUPING(g_hour) = 0 THEN 'hour'
                WHEN GROUPING(g_day)  = 0 THEN 'day'
                ELSE 'week' END AS grain,
           COALESCE(g_hour, g_day, g_week) AS bucket_ts,
           COUNT(*) AS n_events,
           {{dec_sum}} AS sum_value
    FROM (
      SELECT value,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS g_hour,
             date_trunc('day',  CAST(ts AS TIMESTAMP)) AS g_day,
             date_trunc('week', CAST(ts AS TIMESTAMP)) AS g_week
      FROM events
    )
    GROUP BY GROUPING SETS ((g_hour), (g_day), (g_week))
    """.replace("{dec_sum}", sql_dec_sum("value")),
)
def q_rollup_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time rollup: hourly, daily and weekly totals
    of the event stream in ONE statement — the hypertable /
    continuous-aggregate resolution grid, as explicit GROUPING SETS
    over three date_trunc derivations. One scan + one Expand (3×) +
    one partial/final aggregate: at 100 TB this beats three separate
    scans 3:1 on I/O, and the per-set NULL columns coalesce into a
    single (grain, bucket) key. C-83 materializes day-from-hour
    incrementally; this computes the whole grid declaratively when the
    partials don't exist yet. Exact-decimal sums per the compat
    convention."""
    e = load(spark, sf_dir, "events")
    e.select(
        "value",
        F.date_trunc("hour", F.col("ts")).alias("g_hour"),
        F.date_trunc("day", F.col("ts")).alias("g_day"),
        F.date_trunc("week", F.col("ts")).alias("g_week"),
    ).createOrReplaceTempView("_grid_events")
    return spark.sql(
        f"""
        SELECT CASE WHEN GROUPING(g_hour) = 0 THEN 'hour'
                    WHEN GROUPING(g_day)  = 0 THEN 'day'
                    ELSE 'week' END AS grain,
               COALESCE(g_hour, g_day, g_week) AS bucket_ts,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE)
                 AS sum_value
        FROM _grid_events
        GROUP BY GROUPING SETS ((g_hour), (g_day), (g_week))
        """
    )


# ---------------------------------------------------------------------------
# q_bucketize — quantile bucketing without a global sort
# ---------------------------------------------------------------------------

_DECILE_PS = [round(0.1 * i, 1) for i in range(1, 10)]


def _decile_sql(table: str) -> str:
    bs = ",\n             ".join(
        f"percentile_disc({p}) WITHIN GROUP (ORDER BY o_totalprice) AS b{i}"
        for i, p in enumerate(_DECILE_PS, 1)
    )
    cases = "\n             + ".join(
        f"CASE WHEN o_totalprice > b{i} THEN 1 ELSE 0 END"
        for i in range(1, 10)
    )
    return f"""
    WITH b AS (
      SELECT {bs}
      FROM {table}
    )
    SELECT o_orderkey, o_totalprice,
           1 + {cases} AS decile
    FROM {table} CROSS JOIN b
    """


@register("q_bucketize", oracle=_decile_sql("orders"))
def q_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile bucketing at scale: every order tagged with its decile
    of order value — WITHOUT the global sort that ``ntile(10) OVER
    (ORDER BY ...)`` forces onto a single reducer. Phase 1 computes the
    9 decile boundaries as discrete order statistics (actual data
    values — deterministic, engine-identical); phase 2 broadcasts that
    single row and assigns each row by counting boundaries below it —
    a shuffle-free codegen projection. At 100 TB: the boundary row is
    bytes, the assignment is linear and embarrassingly parallel; swap
    phase 1 to ``approx_percentile`` when exactness isn't required
    (q_agg_approx_pct) and the whole thing is one pass. Ties share a
    bucket by construction (strict > against picked values), which is
    the reproducible behavior ntile cannot give."""
    o = load(spark, sf_dir, "orders")
    # ONE sort-aggregate for all 9 boundaries (the array form; nine
    # separate percentile_disc calls each pay their own sort — measured
    # 8.1 s vs 1.1 s at sf1), then a broadcast of the 1-row boundary
    # array and a codegen CASE chain for the assignment.
    ps = ", ".join(str(p) for p in _DECILE_PS)
    b = o.agg(
        F.expr(
            f"percentile_disc(array({ps})) WITHIN GROUP "
            "(ORDER BY o_totalprice)"
        ).alias("bs")
    )
    decile = F.lit(1)
    for i in range(1, 10):
        decile = decile + F.when(
            F.col("o_totalprice") > F.element_at("bs", i), 1
        ).otherwise(0)
    return (
        o.select("o_orderkey", "o_totalprice")
        .crossJoin(F.broadcast(b))
        .select("o_orderkey", "o_totalprice", decile.alias("decile"))
    )


# ---------------------------------------------------------------------------
# q_agg_moments34 — skewness / kurtosis from exact power sums
# ---------------------------------------------------------------------------

#: identical arithmetic text on both engines: same IEEE op sequence from
#: identical exact inputs ⇒ identical doubles (sqrt is correctly
#: rounded; pow(x,1.5) is not, so m2^1.5 is spelled m2*sqrt(m2))
_SKEW_EXPR = (
    "round((s3 / n - 3 * (s1 / n) * (s2 / n)"
    " + 2 * (s1 / n) * (s1 / n) * (s1 / n))"
    " / ((s2 / n - (s1 / n) * (s1 / n))"
    " * sqrt(s2 / n - (s1 / n) * (s1 / n))), 6) AS skewness"
)
_KURT_EXPR = (
    "round((s4 / n - 4 * (s1 / n) * (s3 / n)"
    " + 6 * (s1 / n) * (s1 / n) * (s2 / n)"
    " - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))"
    " / ((s2 / n - (s1 / n) * (s1 / n))"
    " * (s2 / n - (s1 / n) * (s1 / n))) - 3, 6) AS excess_kurtosis"
)
_MOMENT_FINISH = _SKEW_EXPR + ",\n           " + _KURT_EXPR


@register(
    "q_agg_moments34",
    oracle=f"""
    WITH f AS (
      SELECT event_type,
             CAST(round(value * 10000, 0) AS BIGINT) AS v
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DOUBLE) AS s2,
             CAST(SUM(CAST(v AS DECIMAL(38,0)) * v * v) AS DOUBLE) AS s3,
             CAST(SUM(CAST(v AS DECIMAL(38,0)) * v * v * v) AS DOUBLE) AS s4
      FROM f GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           {_MOMENT_FINISH}
    FROM s
    """,
)
def q_agg_moments34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per event type from EXACT integer
    power sums — the 3rd/4th-moment extension of q_agg_stats, and the
    same determinism argument: Σv, Σv², Σv³, Σv⁴ accumulate as exact
    DECIMAL(38,0) over the 1e-4 fixed-point grid (v⁴ ≈ 1e24 × 1e12
    rows still fits), so partial aggregation is associative and
    partition-order-independent where the built-in ``skewness`` /
    ``kurtosis`` float accumulators drift. One double cast per sum,
    then an IEEE closed form written with the IDENTICAL operation
    sequence on both engines (m2^1.5 as m2·sqrt(m2) — sqrt is
    correctly rounded, pow is not). Skew/kurtosis are scale-invariant,
    so the 1e4 fixed-point scaling cancels and no rescale is needed.
    Single partial/final hash aggregate, one tiny shuffle."""
    e = load(spark, sf_dir, "events")
    v = F.round(F.col("value") * 10000, 0).cast("long")
    dec = v.cast("decimal(38,0)")
    s = e.select("event_type", v.alias("v"), dec.alias("vd")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("vd")).cast("double").alias("s1"),
        F.sum(F.col("vd") * F.col("v")).cast("double").alias("s2"),
        F.sum(F.col("vd") * F.col("v") * F.col("v")).cast("double").alias("s3"),
        F.sum(F.col("vd") * F.col("v") * F.col("v") * F.col("v"))
        .cast("double")
        .alias("s4"),
    )
    return s.selectExpr(
        "event_type",
        "CAST(n AS BIGINT) AS n_events",
        _SKEW_EXPR,
        _KURT_EXPR,
    )


# ---------------------------------------------------------------------------
# q_join_null_aware — NOT IN with nullable subquery (null-aware anti join)
# ---------------------------------------------------------------------------


@register(
    "q_join_null_aware",
    oracle="""
    WITH clean AS (
      SELECT count(*) AS n FROM orders
      WHERE o_custkey NOT IN (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      )
    ),
    poisoned AS (
      SELECT count(*) AS n FROM orders
      WHERE o_custkey NOT IN (
        SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_custkey END
        FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      )
    )
    SELECT 'clean_list' AS variant, n FROM clean
    UNION ALL
    SELECT 'null_in_list', n FROM poisoned
    """,
)
def q_join_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN three-valued-logic semantics — the null-aware anti join.
    Two variants of the same denylist anti-predicate: against a
    NULL-free list it is a plain anti join; against a list where even
    ONE element is NULL, SQL's three-valued logic makes ``x NOT IN
    (...)`` never-true and the count collapses to 0 — the footgun
    Spark handles with its optimized single-column null-aware anti
    join (a broadcast build that short-circuits on any null) instead
    of a naive per-row re-scan. Both variants and both engines must
    agree exactly; the planted NULL is a deterministic mod rule. At
    scale: the denylist side is the small side (broadcast); the fact
    side streams."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    o.createOrReplaceTempView("_naaj_orders")
    c.createOrReplaceTempView("_naaj_customer")
    return spark.sql(
        """
        WITH clean AS (
          SELECT count(*) AS n FROM _naaj_orders
          WHERE o_custkey NOT IN (
            SELECT c_custkey FROM _naaj_customer
            WHERE c_mktsegment = 'AUTOMOBILE'
          )
        ),
        poisoned AS (
          SELECT count(*) AS n FROM _naaj_orders
          WHERE o_custkey NOT IN (
            SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL
                        ELSE c_custkey END
            FROM _naaj_customer WHERE c_mktsegment = 'AUTOMOBILE'
          )
        )
        SELECT 'clean_list' AS variant, n FROM clean
        UNION ALL
        SELECT 'null_in_list', n FROM poisoned
        """
    )


# ---------------------------------------------------------------------------
# q_join_fuzzy — blocked fuzzy self-join by edit distance
# ---------------------------------------------------------------------------

_FUZZY_MAX_DIST = 8


@register(
    "q_join_fuzzy",
    oracle=f"""
    SELECT a.p_partkey AS a_key, b.p_partkey AS b_key, a.p_brand,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM part a
    JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
    """,
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join — record linkage by edit distance: part
    names within the same (brand, size) block whose Levenshtein
    distance is ≤ {_FUZZY_MAX_DIST} (catalog-dedup / entity-resolution
    shape). The quadratic distance computation is confined to equi-join
    blocks — the same blocking discipline as every dedup operator here
    (LSH bands, IVF cells, label blocks): the plan is ONE co-partitioned
    equi-join on the block key with the distance as a post-join filter,
    never an all-pairs cross product; `a < b` halves the block's pair
    count.

    Two scale guards (r2 was 28.6 s at sf1 — in ONE task):

    * **Pinned fan-out repartition.** The block-key shuffle carries only
      |part| rows (a few MB), so AQE coalesces it to one partition —
      blind to the ×|block| join amplification and the per-pair distance
      behind it. Both sides repartition to an explicit partition count
      (AQE never coalesces a user-pinned number), so the pair work runs
      wide. At 100 TB the parallelism ceiling is the block-key
      cardinality (~1250 here); finer lossless keys would raise it.
    * **Banded distance.** ``levenshtein(a, b, k)`` computes only the
      |i−j| ≤ k diagonal band and bails at -1 past the threshold —
      O(k·n) per pair instead of O(n²) — then the -1 sentinel is the
      rejected-pair filter. The exact distances ≤ k are unchanged, so
      the hash matches the unbanded oracle.

    (The classic |len(a)−len(b)| ≤ k pre-gate was measured to prune 0%
    here — the fixture's names are short and uniform — so it is
    omitted; put it back in front of real-world name data. Note the
    *output* is inherently ~quadratic in block population for this
    fixture — 63% of in-block pairs really are within distance 8 — so
    no admissible blocking can shrink it; the levers are parallelism
    and per-pair cost.)"""
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_name"
    )
    a = p.select(
        F.col("p_partkey").alias("a_key"),
        "p_brand",
        "p_size",
        F.col("p_name").alias("a_name"),
    ).repartition(64, "p_brand", "p_size")
    b = p.select(
        F.col("p_partkey").alias("b_key"),
        "p_brand",
        "p_size",
        F.col("p_name").alias("b_name"),
    ).repartition(64, "p_brand", "p_size")
    return (
        a.join(b, ["p_brand", "p_size"])
        .filter(F.col("a_key") < F.col("b_key"))
        .withColumn(
            "dist",
            F.levenshtein("a_name", "b_name", _FUZZY_MAX_DIST),
        )
        .filter(F.col("dist") >= 0)
        .select("a_key", "b_key", "p_brand", "dist")
    )


# ---------------------------------------------------------------------------
# q_agg_weighted — exact weighted mean
# ---------------------------------------------------------------------------


@register(
    "q_agg_weighted",
    oracle="""
    SELECT l_returnflag,
           round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2)
             AS sum_w,
           round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
                    * CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2)
             AS sum_wx,
           round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
                    * CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 6)
             AS weighted_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean price per return flag — the
    weighted-average shape (mixture weights, cost-weighted KPIs) in
    the exact-decimal convention: Σw and Σw·x accumulate as exact
    decimals (associative partials), ONE IEEE division at the end.
    Contrast a naive ``avg(w*x/w)``-style float pipeline, whose result
    depends on partition order. Single partial/final hash aggregate."""
    li = load(spark, sf_dir, "lineitem")
    w = F.col("l_quantity").cast("decimal(18,4)")
    x = F.col("l_extendedprice").cast("decimal(18,4)")
    # decimal→double conversion is 1-ulp off between engines at this
    # magnitude (DuckDB divides the int128 by the scale in float math);
    # explicit rounds absorb it while the SUMS stay exact
    g = li.groupBy("l_returnflag").agg(
        F.sum(w).cast("double").alias("sum_w"),
        F.sum(w * x).cast("double").alias("sum_wx"),
    )
    return g.select(
        "l_returnflag",
        F.round("sum_w", 2).alias("sum_w"),
        F.round("sum_wx", 2).alias("sum_wx"),
        F.round(F.col("sum_wx") / F.col("sum_w"), 6).alias(
            "weighted_avg_price"
        ),
    )


def _copurchase_support(spark: SparkSession, sf_dir: str):
    """Shared co-purchase pair-support table ``(u, v, s_pair)`` with
    u < v — the one expensive aggregate (orderkey self-join over ~15
    pairs/order) behind both the triangle query and the basket rules.
    Keyed cross-query persist (cacheutil): computed once per session
    per sf_dir, exactly like the near-dup pair index."""
    from streamclient_spark.cacheutil import managed_persist

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    return managed_persist(
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count_distinct("l_orderkey").alias("s_pair")),
        key=f"copurchase:{sf_dir}",
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str):
    """The SUPPORTED co-purchase edge list ``(u, v)`` (support ≥ 2,
    u < v, distinct by construction) — keyed-persisted separately from
    the full support table because the graph kernels (triangles, CC,
    PageRank) re-derive it on every build and the support table is ~3
    orders of magnitude larger than its supported subset (every
    single-order pair survives into the aggregate; only multi-order
    pairs survive the filter). Scanning 20M cached support rows per
    kernel build was most of q_graph_pagerank's sf1 time; this 35k-row
    cached frame makes the re-derivation free."""
    from streamclient_spark.cacheutil import managed_persist

    return managed_persist(
        _copurchase_support(spark, sf_dir)
        .filter(F.col("s_pair") >= 2)
        .select("u", "v")
        # the filter keeps ~0.2% of support rows but the cache would
        # inherit the aggregate's 64-way AQE partitioning — every kernel
        # materialization then pays 64 task launches to scan 35k rows
        # (×3 scans per pagerank build, measured ~1 s of pure scheduling
        # at sf1). coalesce is shuffle-free and 8 partitions hold
        # millions of post-filter edges comfortably at any tested sf.
        .coalesce(8),
        key=f"copurchase_edges:{sf_dir}",
    )


# ---------------------------------------------------------------------------
# q_graph_triangles — triangle count / global clustering coefficient
# ---------------------------------------------------------------------------


@register(
    "q_graph_triangles",
    oracle="""
    WITH e AS (
      SELECT u, v FROM (
        SELECT a.l_partkey AS u, b.l_partkey AS v,
               count(DISTINCT a.l_orderkey) AS support
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
      ) WHERE support >= 2
    ),
    tri AS (
      SELECT count(*) AS t
      FROM e e1
      JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    deg AS (
      SELECT u AS node, count(*) AS d FROM (
        SELECT u FROM e UNION ALL SELECT v FROM e
      ) GROUP BY u
    ),
    wedges AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS w FROM deg)
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST(tri.t AS BIGINT) AS n_triangles,
           wedges.w AS n_wedges,
           CAST(FLOOR(CAST(3 * tri.t * 1000 AS DOUBLE) / wedges.w)
                AS BIGINT) AS clustering_permille
    FROM tri CROSS JOIN wedges
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient over the
    co-purchase graph (parts sharing an order) — the canonical
    distributed-graph aggregate beyond connectivity (CC) and
    centrality (PageRank). Edges are co-purchases with SUPPORT ≥ 2
    (pairs sharing at least two orders — the association-rule support
    floor), which is both the meaningful affinity graph and the
    density control: raw single-order co-occurrence is quadratic-dense
    noise whose closure join explodes (measured 15 s at sf0.1; the
    supported graph closes in under a second). Edges derive from one
    orderkey self-join + pair-support aggregate;
    triangles from the DEGREE-ORIENTED two-join closure: every
    undirected edge is directed from its lower- to its higher-rank
    endpoint under rank = (degree, id), wedges pair the two out-edges
    of the low vertex ordered by rank, and the (y, z) closure probe
    hits the oriented edge exactly once per triangle. Identical count
    to any orientation (each triangle is counted at its minimum-rank
    vertex) — the oracle's id-oriented SQL proves it by hash — but the
    per-key wedge fan-out is now bounded by ~O(sqrt(|E|)) out-degree
    instead of a hub's full degree: a node with degree d contributes
    wedges only for neighbors that outrank it, so the celebrity node
    that would generate d²/2 wedges under id orientation generates
    almost none (arboricity bound, the standard 100×-scale fix).
    Degrees come from one tiny aggregate joined back onto the edge
    list. Clustering = 3·triangles/wedges in floored integer permille.
    The graph build shuffles on orderkey, the closure on node
    prefixes; everything else is tiny aggregates."""
    e = _copurchase_edges(spark, sf_dir).localCheckpoint(
        eager=False
    )  # reused by orientation + degree + count
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = e.join(
        deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u"
    ).join(
        deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v"
    )
    lo_is_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lo_is_u, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(lo_is_u, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(lo_is_u, F.col("dv")).otherwise(F.col("du")).alias("d_hi"),
    ).localCheckpoint()  # reused by both wedge sides + the closure probe
    w1 = oriented.select(
        F.col("lo").alias("x"), F.col("hi").alias("y"),
        F.col("d_hi").alias("dy"),
    )
    w2 = oriented.select(
        F.col("lo").alias("x"), F.col("hi").alias("z"),
        F.col("d_hi").alias("dz"),
    )
    rank_y_below_z = (F.col("dy") < F.col("dz")) | (
        (F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z"))
    )
    tri = (
        w1.join(w2, "x")
        .filter(rank_y_below_z)
        .join(
            oriented.select(
                F.col("lo").alias("y"), F.col("hi").alias("z")
            ),
            ["y", "z"],
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    wedges = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")).alias("w")
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.crossJoin(wedges)
        .crossJoin(n_edges)
        .select(
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("t").cast("long").alias("n_triangles"),
            F.col("w").cast("long").alias("n_wedges"),
            F.floor((3 * F.col("t") * 1000).cast("double") / F.col("w"))
            .cast("long")
            .alias("clustering_permille"),
        )
    )


# ---------------------------------------------------------------------------
# q_market_basket — association rules (support / confidence / lift)
# ---------------------------------------------------------------------------

_BASKET_MIN_SUPPORT = 3  # orders containing the pair


@register(
    "q_market_basket",
    oracle=f"""
    WITH n AS (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
               FROM orders),
    item AS (
      SELECT l_partkey, count(DISTINCT l_orderkey) AS s_item
      FROM lineitem GROUP BY l_partkey
    ),
    pair AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             count(DISTINCT a.l_orderkey) AS s_pair
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(DISTINCT a.l_orderkey) >= {_BASKET_MIN_SUPPORT}
    )
    SELECT p.u, p.v, CAST(p.s_pair AS BIGINT) AS s_pair,
           CAST(iu.s_item AS BIGINT) AS s_u,
           CAST(iv.s_item AS BIGINT) AS s_v,
           CAST(FLOOR(CAST(p.s_pair * 1000 AS DOUBLE) / iu.s_item)
                AS BIGINT) AS conf_u_to_v_permille,
           CAST(FLOOR(CAST(p.s_pair * n.n_orders * 1000 AS DOUBLE)
                      / (iu.s_item * iv.s_item)) AS BIGINT)
             AS lift_permille
    FROM pair p
    JOIN item iu ON iu.l_partkey = p.u
    JOIN item iv ON iv.l_partkey = p.v
    CROSS JOIN n
    """,
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules: for every part pair co-bought
    in ≥ {_BASKET_MIN_SUPPORT} orders — pair support, item supports,
    confidence(u→v) and lift, all in floored integer permille (exact
    long counts, one float division each, both engines identical).
    This is the recommendation / affinity-analysis staple; the same
    shape scores token co-occurrence (PMI) over documents.

    Plan: one orderkey self-join feeds the pair-support aggregate
    (map-side combined); the support floor prunes before the two item-
    support joins, whose right side is a |parts|-row table → AQE
    broadcasts it; corpus size is a 1-row scalar. No quadratic blow-up
    survives past the HAVING."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    n = o.agg(F.count_distinct("o_orderkey").alias("n_orders"))
    item = li.groupBy("l_partkey").agg(
        F.count_distinct("l_orderkey").alias("s_item")
    )
    pair = _copurchase_support(spark, sf_dir).filter(
        F.col("s_pair") >= _BASKET_MIN_SUPPORT
    )
    iu = item.select(F.col("l_partkey").alias("u"), F.col("s_item").alias("s_u"))
    iv = item.select(F.col("l_partkey").alias("v"), F.col("s_item").alias("s_v"))
    return (
        pair.join(iu, "u")
        .join(iv, "v")
        .crossJoin(F.broadcast(n))
        .select(
            "u",
            "v",
            "s_pair",
            "s_u",
            "s_v",
            F.floor((F.col("s_pair") * 1000).cast("double") / F.col("s_u"))
            .cast("long")
            .alias("conf_u_to_v_permille"),
            F.floor(
                (F.col("s_pair") * F.col("n_orders") * 1000).cast("double")
                / (F.col("s_u") * F.col("s_v"))
            )
            .cast("long")
            .alias("lift_permille"),
        )
    )


# ---------------------------------------------------------------------------
# round-3 addition: referential-integrity audit (DQ family)
# ---------------------------------------------------------------------------

#: FK edges audited by q_dq_referential: (child, fk col, parent, pk col)
_FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("events", "user_id", "customer", "c_custkey"),
)


def _sql_fk_edge(child: str, fk: str, parent: str, pk: str) -> str:
    label = f"{child}.{fk}->{parent}.{pk}"
    return f"""
    SELECT '{label}' AS fk_edge,
           count(*) AS n_child_keys,
           CAST(sum(c.c) AS BIGINT) AS n_child_rows,
           count(*) FILTER (WHERE p.k IS NULL) AS n_orphan_keys,
           CAST(coalesce(sum(c.c) FILTER (WHERE p.k IS NULL), 0)
                AS BIGINT) AS n_orphan_rows
    FROM (SELECT {fk} AS k, count(*) AS c FROM {child} GROUP BY 1) c
    LEFT JOIN (SELECT DISTINCT {pk} AS k FROM {parent}) p ON c.k = p.k
    """


@register(
    "q_dq_referential",
    oracle=" UNION ALL ".join(_sql_fk_edge(*e) for e in _FK_EDGES),
)
def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for every declared FK edge of the
    star schema (plus the events→customer link, which is EXPECTED to
    carry orphans in this corpus — an audit reports, it does not
    assume), the number of distinct child keys, child rows, orphan
    keys, and orphan rows. The complement of A12's keep-side bulk
    delete: this is the detection pass a 100 TB lakehouse runs before
    enforcing constraints it cannot declare.

    The whole audit is ONE shuffle and ZERO joins, regardless of edge
    count. Every table contributes tagged (edge, key) rows to one
    union: child rows carry (edge, key, c=1, p=0) and parent keys
    carry (edge, key, c=0, p=1) for every edge that references them
    (no parent pre-distinct needed — p is OR-combined). Each TABLE is
    scanned exactly once no matter how many roles it plays: all of its
    (edge, key, c, p) tags explode out of the same scan (lineitem
    childs three edges; orders and customer each appear as child of
    one edge and parent of others; nation parents two). A single
    map-side-combined ``groupBy(edge, key)`` then resolves everything
    at once: per key, ``c`` sums the child occurrences and ``p`` ORs
    parent membership — the cogroup-by-aggregation form of the
    child⟕parent probe, replacing the r4 per-edge join+agg cascade
    (~20 stages, most of its 4.8 s at sf1) with one wide aggregate.
    Keys with c>0, p=0 are orphans; the 7-group rollup is free. At
    100 TB this is the shape that survives: one scan per table, one
    shuffle whose volume is the map-side-reduced distinct-key set,
    partial aggregation absorbing per-partition duplicates, and no
    join-side skew (a hot FK value collapses to one row per
    partition before the exchange).

    r12 (guide §7.3 — the q_dq_completeness SQL-string device): the
    SAME plan is now emitted as ONE ``spark.sql`` string over the
    memoized fixture views (sqlapi.register_views);
    ``explode(struct)`` becomes ``inline(named_struct)``, operators
    and results unchanged (oracle-verified ×3 SFs)."""
    from collections import defaultdict

    from streamclient_spark.sqlapi import register_views

    register_views(spark, sf_dir)

    # every ROLE a table plays: (edge id, key column, is_child)
    roles: dict[str, list] = defaultdict(list)
    labels = []
    for i, (child, fk, parent, pk) in enumerate(_FK_EDGES):
        roles[child].append((i, fk, True))
        roles[parent].append((i, pk, False))
        labels.append(f"{child}.{fk}->{parent}.{pk}")

    # (edge, key) packed into ONE long — edge in the low 3 bits,
    # key shifted by 8: a single 64-bit group key halves the
    # hash-aggregate key width and the shuffle row vs the (int,
    # long) pair (measured 3.49 → 3.00 s at sf1). Safe while
    # |keys| < 2^59 and edges < 8. NULL handling mirrors the
    # oracle's LEFT JOIN semantics: a NULL CHILD key is a real
    # per-edge group (and always an orphan — NULL never equals a
    # parent key), so it packs to a reserved per-edge sentinel
    # instead of NULL-propagating into one cross-edge group; a
    # NULL PARENT key can never match and stays NULL (dropped
    # below).
    def _role(i: int, col: str, is_child: bool) -> tuple[str, int, int]:
        if is_child:
            ek = (
                f"coalesce(CAST({col} AS BIGINT) * 8 + {i}, "
                f"{-(2**62) + i}L)"
            )
            return ek, 1, 0
        return f"CAST({col} AS BIGINT) * 8 + {i}", 0, 1

    parts = []
    for table, rs in roles.items():
        if len(rs) > 1:
            tagged = ", ".join(
                "named_struct('ek', {0}, 'c', {1}, 'p', {2})".format(
                    *_role(i, col, is_child)
                )
                for i, col, is_child in rs
            )
            parts.append(f"SELECT inline(array({tagged})) FROM {table}")
        else:
            ek, c, p = _role(*rs[0])
            parts.append(
                f"SELECT {ek} AS ek, {c} AS c, {p} AS p FROM {table}"
            )
    labels_sql = ", ".join(f"'{x}'" for x in labels)
    # pmod, not %: the NULL-child sentinel is negative and Java's
    # % takes the dividend's sign; parent-only keys (c = 0) aren't
    # child keys and drop before the per-edge rollup.
    return spark.sql(
        f"""
SELECT element_at(array({labels_sql}), e + 1) AS fk_edge,
       n_child_keys,
       CAST(n_child_rows AS BIGINT) AS n_child_rows,
       n_orphan_keys,
       CAST(n_orphan_rows AS BIGINT) AS n_orphan_rows
FROM (SELECT e, count(1) AS n_child_keys, sum(c) AS n_child_rows,
             sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS n_orphan_keys,
             sum(CASE WHEN p = 0 THEN c ELSE 0 END) AS n_orphan_rows
      FROM (SELECT CAST(pmod(ek, 8) AS INT) AS e, c, p
            FROM (SELECT ek, sum(c) AS c, max(p) AS p
                  FROM ({' UNION ALL '.join(parts)})
                  WHERE ek IS NOT NULL GROUP BY ek)
            WHERE c > 0)
      GROUP BY e)
"""
    )


# ---------------------------------------------------------------------------
# round-3 additions: connected components + PageRank as first-class queries
# (the scale.py iterative kernels, now oracle-attested)
# ---------------------------------------------------------------------------

#: co-purchase edge CTE shared by the graph oracles (u < v, support >= 2)
_SQL_COPURCHASE_E0 = """
    e0 AS MATERIALIZED (
      SELECT u AS a0, v AS b0 FROM (
        SELECT a.l_partkey AS u, b.l_partkey AS v,
               count(DISTINCT a.l_orderkey) AS support
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
      ) WHERE support >= 2
    )
"""

#: unrolled star-CC rounds in the oracle; engine converges in ~5 on this
#: graph family (measured 5 at sf0.01, 4 at sf1) and a fixpoint is stable
#: under further rounds, so 8 is a safe margin, not a semantics knob.
_CC_ROUNDS = 8


def _sql_cc_oracle() -> str:
    """Mirror connected_components_star's two half-steps round by round
    (large-star: every neighbor above u re-attaches to min(N(u) ∪ u);
    small-star: each larger endpoint and its smaller neighbors attach
    to the per-endpoint min) via the shared compat.sql_star_cc
    generator, over the co-purchase edge CTE."""
    from streamclient_spark.compat import sql_star_cc

    return (
        f"WITH {_SQL_COPURCHASE_E0}"
        ", ein AS (SELECT a0 AS u, b0 AS v FROM e0)"
        + sql_star_cc("ein", _CC_ROUNDS)
        + " SELECT node, component FROM star_labels"
    )


@register("q_graph_cc", oracle=_sql_cc_oracle())
def q_graph_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase graph (support ≥ 2) by
    the alternating large-star/small-star algorithm — each node labeled
    with its component's minimum node id. This registers the
    scale.connected_components_star kernel (Kiveris et al. 2014,
    O(log n) rounds w.h.p.) as a first-class oracle-attested query: the
    oracle unrolls the SAME two half-steps for 8 rounds in SQL, and
    because a converged edge set is a fixpoint of both half-steps, the
    8-round state equals the engine's converged state whenever
    convergence takes ≤ 8 rounds (measured: 5 at sf0.01, pinned by a
    test). Label propagation would need diameter-many rounds; star
    contraction is the 100 TB shape — every round is two
    min-aggregates plus two co-partitioned joins on the edge list,
    looped by :func:`scale.fixpoint` (checkpoint and probe contract
    there)."""
    from streamclient_spark.scale import connected_components_star

    e = _copurchase_edges(spark, sf_dir)
    labels, _rounds = connected_components_star(e, src="u", dst="v")
    return labels.select("node", F.col("label").alias("component"))


#: PageRank power iterations (both engines; unrolled in the oracle)
_PR_ITERS = 5

def _sql_pagerank_oracle() -> str:
    """Mirror scale.pagerank's fixed-point integer update for a
    symmetric edge list (no dangling nodes): per round each node sends
    floor(r/deg) along every out-edge and new = teleport +
    floor(850·received/1000), all on the 1e-12 integer grid."""
    one = 10**12
    sql = [f"WITH {_SQL_COPURCHASE_E0}",
           """
    , ed AS MATERIALIZED (SELECT a0 AS src, b0 AS dst FROM e0
             UNION ALL SELECT b0, a0 FROM e0)
    , deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM ed GROUP BY src)
    , nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed)
    , nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes)
    """,
           f", p0 AS MATERIALIZED (SELECT node, CAST({one} // nn.n AS BIGINT) AS r"
           "  FROM nodes CROSS JOIN nn)"]
    for i in range(1, _PR_ITERS + 1):
        sql.append(f"""
    , p{i} AS MATERIALIZED (
        SELECT n.node,
               CAST(((({one} // nn.n) * 150) // 1000)
                    + ((850 * coalesce(rcv.s, 0)) // 1000) AS BIGINT) AS r
        FROM nodes n CROSS JOIN nn
        LEFT JOIN (
          SELECT e.dst, CAST(sum(p.r // d.deg) AS BIGINT) AS s
          FROM ed e JOIN deg d ON e.src = d.src
          JOIN p{i - 1} p ON e.src = p.node
          GROUP BY e.dst
        ) rcv ON n.node = rcv.dst
    )""")
    sql.append(f"""
    SELECT node, r / {float(one)} AS rank FROM p{_PR_ITERS}
    """)
    return "".join(sql)


@register("q_graph_pagerank", oracle=_sql_pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the (symmetrized) co-purchase graph, 5
    power iterations, damping 0.85 — the scale.pagerank kernel as a
    first-class oracle-attested query. Every update runs in FIXED-POINT
    INTEGER arithmetic on a 1e-12 grid (send floor(r/deg), damp by
    ·850//1000), so partition count, aggregation order, and retries
    cannot move a single bit, and the oracle can replay the identical
    integer recurrence iteration by iteration in SQL; only the final
    grid→double division produces the reported rank (same IEEE op both
    sides). Per round: one co-partitioned edge⋈rank join + one long-sum
    aggregate — the edge list shuffles ONCE onto src and every round
    reuses that partitioning; at 100 TB that single up-front shuffle is
    the whole data-motion budget. Symmetric edges mean no dangling
    mass (every node has out-degree ≥ 1); the kernel's dangling
    correction is exercised separately in tests/test_scale.py."""
    from streamclient_spark.scale import pagerank

    from streamclient_spark.cacheutil import managed_persist

    e = _copurchase_edges(spark, sf_dir)
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # (2|E|, |N|) are derived metadata of the keyed edge index: memoize
    # ON the cached frame object so repeat builds skip the kernel's
    # stats job. The memo's lifetime is exactly the keyed-persist
    # entry's — release_all() drops the frame, the next build gets a
    # fresh object and recomputes (ADVICE r4: a module-level dict keyed
    # on sf_dir survived cache invalidation and could serve stale
    # counts after a fixture refresh).
    stats = getattr(e, "_graph_stats", None)
    if stats is None:
        row = (
            e.select(F.explode(F.array("u", "v")).alias("node"))
            .agg(
                F.count(F.lit(1)).alias("two_m"),
                F.count_distinct("node").alias("n"),
            )
            .first()
        )
        stats = (int(row["two_m"]), int(row["n"]))
        e._graph_stats = stats
    two_m, n = stats
    # PREPARED graph index, keyed-persisted beside the edge list: the
    # symmetrized edges with their out-degree, partitioned on the join
    # key at the kernel's own width rule (~250k edges/partition, floor
    # 8, ceiling defaultParallelism). Building it per-query-run (degree
    # aggregate + join + repartition over an already-cached edge list)
    # was ~1 s of small-stage churn at sf1; as a keyed index it is
    # built once per session, exactly like the near-dup pair list.
    dp = spark.sparkContext.defaultParallelism
    width = int(max(8, min(dp, two_m // 250_000)))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ed = managed_persist(
        sym.join(deg, "u").repartition(width, "u"),
        key=f"copurchase_degreed:{sf_dir}",
    )
    # the symmetrized edge list guarantees outdeg ≥ 1 AND indeg ≥ 1
    # everywhere, so the kernel skips the dangling anti-join, the
    # per-iteration dangling-mass collect, and the per-round node join;
    # deg_col marks the input as prepared (distinct, degreed,
    # partitioned), so the kernel builds nothing before iterating.
    return pagerank(
        ed,
        src="u",
        dst="v",
        n_iters=_PR_ITERS,
        assume_no_dangling=True,
        edges_distinct=True,
        stats=(two_m, n),
        deg_col="deg",
    )


# ---------------------------------------------------------------------------
# round-3 addition: per-group OLS regression aggregates
# ---------------------------------------------------------------------------


@register(
    "q_agg_regr",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(count(*) AS DECIMAL(38,0)) AS n,
             SUM(CAST(hour(CAST(ts AS TIMESTAMP)) AS DECIMAL(38,0))) AS sx,
             SUM(CAST(CAST(round(value * 100) AS BIGINT)
                 AS DECIMAL(38,0))) AS sy,
             SUM(CAST(hour(CAST(ts AS TIMESTAMP))
                 * hour(CAST(ts AS TIMESTAMP)) AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(hour(CAST(ts AS TIMESTAMP))
                 * CAST(round(value * 100) AS BIGINT)
                 AS DECIMAL(38,0))) AS sxy,
             SUM(CAST(CAST(round(value * 100) AS BIGINT)
                 * CAST(round(value * 100) AS BIGINT)
                 AS DECIMAL(38,0))) AS syy
      FROM events GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_cents,
           round(CAST(sy * sxx - sx * sxy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS icept_cents,
           round((CAST(n * sxy - sx * sy AS DOUBLE)
                  * CAST(n * sxy - sx * sy AS DOUBLE))
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 9) AS r2
    FROM s
    """,
)
def q_agg_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression aggregates — slope, intercept, and r²
    of event value against hour-of-day, per event type (the hour-of-day
    effect size every ops dashboard fits; SQL's REGR_SLOPE/
    REGR_INTERCEPT/REGR_R2 family) — under the exact-moments doctrine
    of q_agg_stats: six integer sums (n, Σx, Σy, Σx², Σxy, Σy² over
    hour ∈ [0,23] and exact cents), then closed forms whose numerators
    are EXACT (decimal(38,0)) and whose one double division is
    textually identical on both engines — never the engines' built-in
    regr_* (double accumulation in partition order). Magnitudes: x ≤
    23 keeps Σxy ≤ n·23·5.7e4 — int64-safe into the 1e8-row range and
    decimal(38,0)-safe forever; Σy² is the q_agg_stats limb candidate
    at larger scales. ONE partial+final hash aggregate over a 6-long
    accumulator row per group; at 100 TB this is a single map-combined
    scan, no second pass, no Welford order sensitivity."""
    e = load(spark, sf_dir, "events")
    x = F.hour("ts").cast("long")
    y = F.round(F.col("value") * 100).cast("long")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    )
    dec = "decimal(38,0)"
    n = F.col("n").cast(dec)
    sx, sy = F.col("sx").cast(dec), F.col("sy").cast(dec)
    sxx, sxy = F.col("sxx").cast(dec), F.col("sxy").cast(dec)
    syy = F.col("syy").cast(dec)
    num_s = (n * sxy - sx * sy).cast("double")
    num_i = (sy * sxx - sx * sxy).cast("double")
    den = (n * sxx - sx * sx).cast("double")
    den_y = (n * syy - sy * sy).cast("double")
    return s.select(
        "event_type",
        "n",
        F.round(num_s / den, 6).alias("slope_cents"),
        F.round(num_i / den, 6).alias("icept_cents"),
        F.round((num_s * num_s) / (den * den_y), 9).alias("r2"),
    )


# ---------------------------------------------------------------------------
# round-3 additions: lead-time distribution + declarative constraint audit
# ---------------------------------------------------------------------------


@register(
    "q_lead_time",
    oracle="""
    WITH lt AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS TIMESTAMP),
                       CAST(l.l_shipdate AS TIMESTAMP)) AS days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           count(*) AS n,
           min(days) AS min_days,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY days)
                AS BIGINT) AS p50_days,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY days)
                AS BIGINT) AS p90_days,
           max(days) AS max_days
    FROM lt GROUP BY o_orderpriority
    """,
)
def q_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead-time distribution per order priority — the
    fulfillment-SLA metric (how long after ordering do lines ship, and
    does priority actually buy speed): min / p50 / p90 / max of the
    day gap between o_orderdate and each line's l_shipdate. Gaps are
    exact integer day differences; percentiles are DISCRETE (an
    observed gap, identical rank semantics across engines — the
    q_events_inter_arrival convention).

    Plan (round-8 rewrite, VERDICT r7 #2): one orderkey shuffle join
    (sort-merge at fact×fact scale — only orderdate+priority cross the
    exchange on the orders side, column pruning does the rest), then a
    HISTOGRAM aggregate on (priority, day-gap) instead of
    ``percentile_disc`` over raw values: the previous shape buffered
    all ~6M gaps inside 5 ObjectHashAggregate groups (single-reducer
    memory + the GC pressure that showed up as 5–30 s sf1 walls),
    while day gaps take only a few hundred distinct values, so the
    partial agg crushes the exchange to |priorities|×|distinct days|
    rows and the discrete percentiles become exact integer rank
    arithmetic over a cumulative window: PERCENTILE_DISC(q) is by
    definition the smallest value whose cumulative count reaches
    q·n — both engines follow the SQL-standard CUME_DIST form. The
    rank test is INTEGER-EXACT (r9, ADVICE r8): ``cum·2 ≥ n`` and
    ``cum·10 ≥ 9·n`` — the literal-double form ``cum ≥ 0.9·n`` is
    NOT exact (binary 0.9 rounds up by 2.2e-17, so any group with
    n_nn divisible by 10 whose histogram row closes exactly at rank
    0.9·n would pick the next gap value, disagreeing with DuckDB's
    exact-rational boundary, probed: percentile_disc(0.9) over 1..10
    is 9, not 10).
    At 100 TB: the join is the cost and it is the canonical
    co-partitioned fact join (bucket both sides on orderkey — C-26 —
    and it collapses to zero-Exchange); the histogram agg is
    bounded by |priorities|×|days|, not |rows|. The SHUFFLE_HASH hint
    on the orders side came from the sf10 sweep: the unhinted plan
    went sort-merge there (10.7 s — two full 60M/15M-row sorts whose
    only consumer is an equi-match), while a shuffled hash build on
    the smaller orders slice streams the probe side unsorted (5.0 s).
    Per-partition build memory is |orders|/shuffle-partitions — the
    same bound the bucketed form has per bucket — and nothing
    downstream wants the sort order (the histogram agg hashes)."""
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lt = l.join(
        o.hint("SHUFFLE_HASH"), l["l_orderkey"] == o["o_orderkey"]
    ).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("days"),
    )
    hist = lt.groupBy("o_orderpriority", "days").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # NULL discipline (matches both engines' aggregate semantics on a
    # NULL-bearing o_orderdate/l_shipdate): COUNT(*) counts NULL gaps,
    # but PERCENTILE_DISC / MIN / MAX skip them — so the rank
    # denominator is the NON-NULL count and NULL-day histogram rows
    # contribute 0 to the cumulative rank (they sort first under
    # Spark's ASC NULLS FIRST, before any rank threshold).
    cnt_nn = F.when(F.col("days").isNotNull(), F.col("cnt")).otherwise(
        F.lit(0)
    )
    wcum = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.asc_nulls_first("days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("o_orderpriority")
    cum = hist.select(
        "o_orderpriority",
        "days",
        F.sum(cnt_nn).over(wcum).alias("cum_nn"),
        F.sum("cnt").over(wall).alias("n"),
        F.sum(cnt_nn).over(wall).alias("n_nn"),
        F.min("days").over(wall).alias("min_days"),
        F.max("days").over(wall).alias("max_days"),
    )
    pct = F.col("days").isNotNull() & (F.col("n_nn") > 0)
    return cum.groupBy("o_orderpriority").agg(
        F.first("n").alias("n"),
        F.first("min_days").alias("min_days"),
        F.min(
            F.when(
                pct & (F.col("cum_nn") * 2 >= F.col("n_nn")),
                F.col("days"),
            )
        ).alias("p50_days"),
        F.min(
            F.when(
                pct & (F.col("cum_nn") * 10 >= F.col("n_nn") * 9),
                F.col("days"),
            )
        ).alias("p90_days"),
        F.first("max_days").alias("max_days"),
    )


#: declarative row-level constraints audited by q_dq_constraints:
#: (rule name, table, violation predicate SQL — TRUE means VIOLATED)
_DQ_RULES = (
    ("lineitem.quantity_positive", "lineitem", "l_quantity <= 0"),
    ("lineitem.discount_in_unit_range", "lineitem",
     "l_discount < 0 OR l_discount > 1"),
    ("lineitem.tax_nonnegative", "lineitem", "l_tax < 0"),
    ("lineitem.extendedprice_positive", "lineitem",
     "l_extendedprice <= 0"),
    ("orders.totalprice_positive", "orders", "o_totalprice <= 0"),
    ("orders.orderdate_present", "orders", "o_orderdate IS NULL"),
    ("events.value_nonnegative", "events", "value < 0"),
    ("events.ts_present", "events", "ts IS NULL"),
)


@register(
    "q_dq_constraints",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{name}' AS rule, count(*) AS n_rows,
           CAST(coalesce(sum(CASE WHEN {pred} THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_violations
    FROM {table}"""
        for name, table, pred in _DQ_RULES
    )
    + """
    UNION ALL
    SELECT 'lineitem.ships_after_order' AS rule, count(*) AS n_rows,
           CAST(coalesce(sum(CASE WHEN CAST(l.l_shipdate AS TIMESTAMP)
                                       < CAST(o.o_orderdate AS TIMESTAMP)
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_violations
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def q_dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative row-level constraint audit (the dbt-test /
    Deequ-check shape): every rule reports rows checked and rows
    violating — range checks, presence checks, and one cross-table
    temporal rule (a line cannot ship before its order). The
    referential complement lives in q_dq_referential; together they
    are the audit pass a lakehouse runs where it cannot declare
    constraints.

    Each table is scanned ONCE for all of its rules (the per-rule
    SUM(CASE) columns share one map-combined aggregate; the UNION of
    1-row results is free), and the single cross-table rule rides one
    orderkey join that moves only two date columns. Violation
    predicates are integer/date comparisons — nothing floats. At
    100 TB: rules-per-scan is the difference between one pass and
    |rules| passes; Spark's common-subexpression reuse does not span
    UNION branches, so the fan-in is explicit: each table's aggregate
    SUBTREE is repeated per rule (text-identical in the SQL below,
    exactly as the DataFrame form repeated the object), and runtime
    ReuseExchange dedups the identical single-partition exchanges so
    each scan still runs once.

    r12 (guide §7.3 — the q_dq_completeness SQL-string device): the
    SAME plan is now emitted as ONE ``spark.sql`` string over the
    memoized fixture views; operators and results unchanged
    (oracle-verified ×3 SFs)."""
    from streamclient_spark.sqlapi import register_views

    register_views(spark, sf_dir)
    by_table: dict[str, list[tuple[str, str]]] = {}
    for name, table, pred in _DQ_RULES:
        by_table.setdefault(table, []).append((name, pred))
    selects = []
    for table, rules in by_table.items():
        vs = ", ".join(
            f"CAST(coalesce(sum(CASE WHEN {pred} THEN 1 ELSE 0 END), 0) "
            f"AS BIGINT) AS _v{i}"
            for i, (_name, pred) in enumerate(rules)
        )
        agg = f"(SELECT count(1) AS n_rows, {vs} FROM {table})"
        for i, (name, _pred) in enumerate(rules):
            selects.append(
                f"SELECT '{name}' AS rule, n_rows, "
                f"_v{i} AS n_violations FROM {agg}"
            )
    selects.append(
        "SELECT 'lineitem.ships_after_order' AS rule, n_rows, "
        "n_violations FROM ("
        "SELECT count(1) AS n_rows, "
        "CAST(coalesce(sum(CASE WHEN l.l_shipdate < o.o_orderdate "
        "THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)"
    )
    return spark.sql(" UNION ALL ".join(selects))


# ---------------------------------------------------------------------------
# round-3 additions: pivot, Pareto/ABC, Gini, Benford, crosstab
# ---------------------------------------------------------------------------


@register(
    "q_pivot",
    oracle="""
    SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view,
           count(*) AS total
    FROM events GROUP BY 1
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): daily event counts with one column per event
    type — the inverse of C-87's unpivot and the report shape every BI
    layer asks for. Uses the DataFrame ``pivot`` operator WITH the
    explicit value list: Catalyst then compiles it to ONE map-combined
    aggregate whose 5 columns are count-if expressions — no extra pass
    to discover values, no second shuffle (an unlisted pivot triggers a
    distinct-values job first; at 100 TB that discovery scan costs as
    much as the pivot itself, so the value list is the contract).
    Missing (day, type) cells surface as NULL from pivot-count and are
    coalesced to 0 to match SQL's count-FILTER semantics. Day ships as
    an ISO string (DATE objects hash differently across engines)."""
    e = load(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        e.select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", types)
        .count()
    )
    cols = [
        F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types
    ]
    total = sum(
        (F.coalesce(F.col(t), F.lit(0)) for t in types), F.lit(0)
    ).cast("long")
    return wide.select("day", *cols, total.alias("total"))


@register(
    "q_pareto_abc",
    oracle="""
    WITH r AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    c AS (
      SELECT o_custkey, cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, o_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_cents,
             CAST(sum(cents) OVER () AS BIGINT) AS total_cents
      FROM r
    )
    SELECT o_custkey, cents, cum_cents,
           round(CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
                 * 100, 6) AS cum_pct,
           CASE WHEN CAST(cum_cents AS HUGEINT) * 100
                     <= CAST(total_cents AS HUGEINT) * 80 THEN 'A'
                WHEN CAST(cum_cents AS HUGEINT) * 100
                     <= CAST(total_cents AS HUGEINT) * 95 THEN 'B'
                ELSE 'C' END AS abc
    FROM c
    """,
)
def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: customers ranked by exact revenue cents,
    cumulative running share, and the classic A (first 80% of revenue)
    / B (next 15%) / C (tail) classification — the inventory-and-CRM
    concentration report. The class boundary compares INTEGERS
    (cum×100 ≤ total×80 in decimal(38,0)) so no customer ever flips
    class from a float rounding; only the display percentage is a
    double. Plan: ONE map-combined per-customer aggregate, then a
    DISTRIBUTED running sum over the |customers| aggregate via
    ``scale.running_sum_by_range`` (range shuffle + within-partition
    window + broadcast prefix offsets) — NOT round 3's single-partition
    global window, which was a straggler/OOM at 1e9 customers. The
    grand total is a 1-row broadcast scalar, never a partition-less
    window. (r12: the sampler-free literal-bounds layout was A/B'd
    here and LOST/tied at bench scale — the probe aggregate costs more
    than the sampler it replaces on a |customers| spine;
    tools/ab_rangehelpers.py — kept current, guide §1.3.)"""
    from streamclient_spark.scale import running_sum_by_range

    o = load(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    ).localCheckpoint(eager=False)  # feeds the running sum + the total
    total = r.agg(F.sum("cents").alias("total_cents"))
    c = running_sum_by_range(
        r,
        [F.desc("cents"), F.asc("o_custkey")],
        "cents",
        out_col="cum_cents",
    ).join(F.broadcast(total))
    dec = "decimal(38,0)"
    cum100 = F.col("cum_cents").cast(dec) * 100
    tot = F.col("total_cents").cast(dec)
    return c.select(
        "o_custkey",
        "cents",
        "cum_cents",
        F.round(
            F.col("cum_cents").cast("double")
            / F.col("total_cents").cast("double")
            * 100,
            6,
        ).alias("cum_pct"),
        F.when(cum100 <= tot * 80, "A")
        .when(cum100 <= tot * 95, "B")
        .otherwise("C")
        .alias("abc"),
    )


@register(
    "q_agg_gini",
    oracle="""
    WITH r AS (
      SELECT c.c_mktsegment, o.o_custkey,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_custkey
    ),
    i AS (
      SELECT c_mktsegment, cents,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY cents, o_custkey) AS rk
      FROM r
    ),
    s AS (
      SELECT c_mktsegment,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(rk AS HUGEINT) * cents) AS HUGEINT) AS six
      FROM i GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
           CAST(sx AS BIGINT) AS total_cents,
           round(CAST(2 * six - (n + 1) * sx AS DOUBLE)
                 / CAST(n * sx AS DOUBLE), 9) AS gini
    FROM s
    """,
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue per market segment — the
    standard inequality/concentration index (0 = everyone buys the
    same, →1 = one whale). Uses the rank formulation G = (2·Σi·xᵢ −
    (n+1)·Σx) / (n·Σx) over ascending-sorted revenues: Σi·xᵢ is
    order-dependent only across DISTINCT values (equal x's contribute
    x·Σi whatever their permutation), so the custkey tie-break makes
    the plan deterministic without changing the statistic. Numerator
    and denominator accumulate EXACTLY (per-row i·x fits int64; the
    sums go to decimal(38,0)/HUGEINT); the single double division is
    textually identical on both engines. Plan: per-customer agg →
    per-segment rank window (5 segments ≈ 5 fat partitions — at
    extreme |customers| the rank becomes q_rank_global's
    range-partitioned variant) → 5-row final agg."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    r = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("c_mktsegment").orderBy("cents", "o_custkey")
    )
    dec = "decimal(38,0)"
    i = r.select("c_mktsegment", "cents", rk.alias("rk"))
    s = i.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("cents").cast(dec)).alias("sx"),
        F.sum((F.col("rk") * F.col("cents")).cast(dec)).alias("six"),
    )
    n, sx, six = F.col("n"), F.col("sx"), F.col("six")
    return s.select(
        "c_mktsegment",
        n.cast("long").alias("n"),
        sx.cast("long").alias("total_cents"),
        F.round(
            (F.lit(2).cast(dec) * six - (n + 1) * sx).cast("double")
            / (n * sx).cast("double"),
            9,
        ).alias("gini"),
    )


@register(
    "q_dq_benford",
    oracle="""
    WITH d AS (
      SELECT substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                       AS VARCHAR), 1, 1) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    t AS (SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS total FROM g)
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS obs_share,
           round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS exp_share,
           round(abs(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
                 - log10(1.0 + 1.0 / CAST(digit AS DOUBLE))), 6) AS abs_dev
    FROM t
    """,
)
def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fraud/synthetic-data smell test: the observed share of each leading
    digit 1–9 against the log10(1+1/d) expectation. The digit is
    extracted from the DECIMAL STRING of exact cents (never via
    floor(log10(x)) powers, whose double rounding misclassifies exact
    powers of ten); shares are single double divisions and the libm
    log10 ulp is absorbed by round(·,6) per the repo convention. Plan:
    one map-combined 9-group aggregate, then a window over the 9-row
    result for the total — no scalar join, no second scan. At 100 TB
    this is the cheapest possible shape: a full scan into a 9-row
    accumulator."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    g = (
        o.select(F.substring(cents.cast("string"), 1, 1).alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = g.withColumn(
        "total", F.sum("n").over(Window.partitionBy())
    )
    obs = F.col("n").cast("double") / F.col("total").cast("double")
    exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return t.select(
        "digit",
        "n",
        F.round(obs, 6).alias("obs_share"),
        F.round(exp, 6).alias("exp_share"),
        F.round(F.abs(obs - exp), 6).alias("abs_dev"),
    )


@register(
    "q_crosstab",
    oracle="""
    WITH g AS (
      SELECT n.n_name, o.o_orderpriority, count(*) AS n
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, o.o_orderpriority
    ),
    t AS (
      SELECT n_name, o_orderpriority, n,
             CAST(sum(n) OVER (PARTITION BY n_name) AS BIGINT) AS row_n,
             CAST(sum(n) OVER (PARTITION BY o_orderpriority) AS BIGINT)
               AS col_n,
             CAST(sum(n) OVER () AS BIGINT) AS total_n
      FROM g
    )
    SELECT n_name, o_orderpriority, n, row_n, col_n,
           CAST(CAST(row_n AS HUGEINT) * col_n * 1000000 // total_n
                AS BIGINT) AS exp_ppm
    FROM t
    """,
)
def q_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table (crosstab) of nation × order priority with
    expected cell counts under independence — the χ²-test input table,
    kept exact: expected = row_total × col_total × 1e6 floor-divided
    by N in 128-bit integers (decimal(38,0) ``div`` here, HUGEINT
    ``//`` in the oracle — DuckDB's DECIMAL ``//`` detours through a
    double and goes off-by-one, a repo-documented trap), so the
    parts-per-million expectation is bit-identical however large the
    corpus. Plan: the orders→customer shuffle join feeds a
    map-combined ≤125-group aggregate (nation is a 25-row broadcast);
    the three marginal totals are windows over the 125-row RESULT —
    three trivial local sorts, never a second fact scan."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    g = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = g.select(
        "n_name",
        "o_orderpriority",
        "n",
        F.sum("n").over(Window.partitionBy("n_name")).alias("row_n"),
        F.sum("n").over(Window.partitionBy("o_orderpriority")).alias("col_n"),
        F.sum("n").over(Window.partitionBy()).alias("total_n"),
    )
    return t.select(
        "n_name",
        "o_orderpriority",
        "n",
        "row_n",
        "col_n",
        F.expr(
            "CAST(CAST(row_n AS DECIMAL(38,0)) * col_n * 1000000"
            " div total_n AS BIGINT)"
        ).alias("exp_ppm"),
    )


# ---------------------------------------------------------------------------
# round-4 graph additions: degree distribution, link prediction, k-core
# ---------------------------------------------------------------------------


@register(
    "q_graph_degree_dist",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT u, v FROM (
        SELECT a.l_partkey AS u, b.l_partkey AS v,
               count(DISTINCT a.l_orderkey) AS support
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
      ) WHERE support >= 2
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    )
    SELECT CAST(length(bin(d)) - 1 AS INT) AS log2_bin,
           count(*) AS n_nodes,
           min(d) AS min_deg,
           max(d) AS max_deg,
           CAST(sum(d) AS BIGINT) AS sum_deg
    FROM deg GROUP BY 1
    """,
)
def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph in power-of-two
    bins — the first diagnostic you run on any production graph (a
    heavy tail here is what motivates the degree-oriented triangle
    orientation and the salted joins). Bin = length(bin(d))−1, exact
    integer arithmetic on both engines (the q_events_freq_hist device;
    floor(log2) trusts libm at 2^k boundaries). Plan: the keyed edge
    index, one map-combined degree aggregate, a ≤64-group rollup."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    log2_bin = (F.length(F.bin("d")) - 1).cast("int")
    return deg.groupBy(log2_bin.alias("log2_bin")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("d").alias("min_deg"),
        F.max("d").alias("max_deg"),
        F.sum("d").alias("sum_deg"),
    )


@register(
    "q_graph_jaccard",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT u, v FROM (
        SELECT a.l_partkey AS u, b.l_partkey AS v,
               count(DISTINCT a.l_orderkey) AS support
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
      ) WHERE support >= 2
    ),
    adj AS MATERIALIZED (
      SELECT u AS node, v AS nbr FROM e
      UNION ALL SELECT v, u FROM e
    ),
    deg AS MATERIALIZED (
      SELECT node, count(*) AS d FROM adj GROUP BY node
    ),
    common AS (
      SELECT a.nbr AS x, b.nbr AS y, count(*) AS cn
      FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    nonedge AS (
      SELECT c.x, c.y, c.cn FROM common c
      LEFT JOIN e ON e.u = c.x AND e.v = c.y
      WHERE e.u IS NULL
    )
    SELECT x AS a, y AS b, CAST(cn AS BIGINT) AS common_nbrs,
           CAST(cn * 1000 // (da.d + db.d - cn) AS BIGINT)
             AS jaccard_permille
    FROM nonedge
    JOIN deg da ON da.node = x
    JOIN deg db ON db.node = y
    ORDER BY jaccard_permille DESC, a, b
    LIMIT 100
    """,
)
def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard — score NON-adjacent
    node pairs by |N(a)∩N(b)| / |N(a)∪N(b)|, top-100 (the classic
    common-neighbors recommender over the co-purchase graph: parts
    bought alongside the same parts, never together). The score is
    floored integer permille (cn·1000 div (dₐ+d_b−cn)) so no ratio can
    flap, with the (a, b) tie-break making the LIMIT deterministic.

    Plan: wedges from the keyed edge index (adjacency self-join on the
    shared endpoint — the same shape as the triangle closure, with the
    cn ≥ 2 support floor bounding the pair fan-out), an anti-join
    against the edge list to keep non-edges, two joins onto the tiny
    degree table, and a global top-100 (rank-k over a pre-pruned pair
    set). At 100 TB the wedge join is the cost and it is bounded by
    Σ d² over the SUPPORTED graph — the same arboricity argument as
    q_graph_triangles. On a corpus with genuine super-hubs (degree ≫
    10³) the wedge CENTER role additionally takes a degree cap — drop
    centers above it before the self-join, the LSH_BUCKET_CAP analog:
    a part co-bought with everything carries no affinity signal, and
    one hub center is d²/2 wedges. The fixture graph's max degree is
    13, so the cap is documented, not wired. Everything downstream of
    the wedge join is pair-sized."""
    e = _copurchase_edges(spark, sf_dir)
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    common = (
        adj.alias("a")
        .join(adj.alias("b"), "node")
        .filter(F.col("a.nbr") < F.col("b.nbr"))
        .groupBy(
            F.col("a.nbr").alias("x"), F.col("b.nbr").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("cn"))
        .filter(F.col("cn") >= 2)
    )
    nonedge = common.join(
        e,
        (F.col("u") == F.col("x")) & (F.col("v") == F.col("y")),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    db = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    scored = (
        nonedge.join(da, "x")
        .join(db, "y")
        .select(
            F.col("x").alias("a"),
            F.col("y").alias("b"),
            F.col("cn").cast("long").alias("common_nbrs"),
            F.expr("cn * 1000 div (dx + dy - cn)")
            .cast("long")
            .alias("jaccard_permille"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard_permille"), F.asc("a"), F.asc("b")
    ).limit(100)


#: peeling rounds the q_graph_kcore oracle unrolls; the engine peels to
#: fixpoint, so engine==oracle only if convergence lands inside the
#: unroll — tests/test_scale.py::test_kcore_converges_within_oracle_
#: unroll pins it with margin (the q_graph_cc / q_dedup_semantic rule).
#: Measured rounds: 11 at sf0.01 (sparse graph peels slowly), 3 at
#: sf0.1 and sf1 — 15 covers the observed max with margin.
_KCORE_K = 3
_KCORE_ROUNDS = 15


def _sql_kcore_oracle() -> str:
    """Replay the engine's peeling rounds in SQL: per round, survivors
    are nodes with degree ≥ k in the CURRENT edge set, and the edge set
    shrinks to edges with both endpoints surviving. A converged edge
    set is a fixpoint (degrees stop changing), so an unroll at or past
    convergence equals the engine's fixpoint exactly."""
    sql = [f"WITH {_SQL_COPURCHASE_E0}",
           """
    , e0s AS MATERIALIZED (SELECT a0 AS u, b0 AS v FROM e0
              UNION ALL SELECT b0, a0 FROM e0)
    """]
    prev = "e0s"
    for i in range(1, _KCORE_ROUNDS + 1):
        sql.append(f"""
    , k{i} AS MATERIALIZED (
        SELECT u AS node FROM {prev} GROUP BY u
        HAVING count(*) >= {_KCORE_K}
    ), e{i} AS MATERIALIZED (
        SELECT e.u, e.v FROM {prev} e
        JOIN k{i} a ON e.u = a.node
        JOIN k{i} b ON e.v = b.node
    )""")
        prev = f"e{i}"
    sql.append(f"""
    SELECT u AS node, CAST(count(*) AS BIGINT) AS core_deg
    FROM {prev} GROUP BY u
    """)
    return "".join(sql)


@register("q_graph_kcore", oracle=_sql_kcore_oracle())
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph: iteratively peel nodes with
    degree < 3 until stable; output the surviving nodes with their
    within-core degree — the dense-subgraph extractor (spam rings,
    community cores; the graph analog of the dedup support floors).
    The scale.kcore kernel peels to the checksum-detected fixpoint
    (looped by :func:`scale.fixpoint`, checkpoint and probe contract
    there); the oracle replays the SAME rounds unrolled in SQL (a
    fixpoint is stable under extra rounds, so the margin unroll is
    safe — the q_graph_cc device, convergence pinned by test). Per
    round: one map-combined degree aggregate + two semi-joins of the
    edge list; the keyed edge index feeds round 0."""
    from streamclient_spark.scale import kcore

    e = _copurchase_edges(spark, sf_dir)
    nodes, _rounds = kcore(e, _KCORE_K, src="u", dst="v")
    return nodes


# ---------------------------------------------------------------------------
# q_join_spatial — grid-bucketed 2D neighbor join (round 4)
# ---------------------------------------------------------------------------


@register(
    "q_join_spatial",
    oracle="""
    WITH pts AS MATERIALIZED (
      SELECT event_id,
             ((event_id * 2654435761) % 100003) % 1000 AS x,
             ((user_id * 2246822519 + event_id * 97) % 99991) % 1000 AS y
      FROM events WHERE event_id % 13 = 0
    )
    SELECT a.event_id AS a_id, b.event_id AS b_id,
           CAST(abs(a.x - b.x) AS BIGINT) AS dx,
           CAST(abs(a.y - b.y) AS BIGINT) AS dy
    FROM pts a JOIN pts b
      ON a.event_id < b.event_id
     AND abs(a.x - b.x) <= 10
     AND abs(a.y - b.y) <= 10
    """,
)
def q_join_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial neighbor join: all point pairs within Chebyshev distance
    10 on a 1000×1000 integer grid (points derived from event ids by
    exact Knuth-hash arithmetic — identical on both engines, unlike
    seeded hash builtins). The ENGINE never compares all pairs: each
    point maps to a 20×20 grid cell, the right side replicates into its
    3×3 cell neighborhood (a 9-row inline explode — cell edge ≥ the
    radius guarantees coverage), and candidates come from a cell
    EQUI-join, verified by the exact distance predicate. Each true pair
    is generated exactly once (the left point's own cell appears once
    in the right point's replicated neighborhood), so no dedup pass.
    The oracle is the brute-force θ-join ground truth — quadratic by
    construction, which is the point: at 100 TB the cell join shuffles
    ~9·|points| rows on a uniform key while the θ-join is unrunnable.
    The a<b id filter keeps the pair set canonical and the result
    deterministic."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_id") % 13 == 0
    )
    # double-mod through a prime field: a single `mod 1000` of an
    # arithmetic id progression is a lattice (all pairwise distances
    # share a stride, and a 1/k sample can have NO close pairs at all);
    # reducing through a prime first makes the projection effectively
    # uniform while staying exact integer arithmetic on both engines
    pts = e.select(
        "event_id",
        (((F.col("event_id") * 2654435761) % 100003) % 1000).alias("x"),
        (
            ((F.col("user_id") * 2246822519 + F.col("event_id") * 97) % 99991)
            % 1000
        ).alias("y"),
    )
    a = pts.select(
        F.col("event_id").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        (F.floor(F.col("x") / 11) * 128 + F.floor(F.col("y") / 11)).alias(
            "cell"
        ),
    )
    b = (
        pts.select(
            F.col("event_id").alias("b_id"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
            (F.floor(F.col("x") / 11) * 128 + F.floor(F.col("y") / 11)).alias(
                "bcell"
            ),
            F.explode(
                F.array(
                    *[
                        F.lit(dx * 128 + dy)
                        for dx in (-1, 0, 1)
                        for dy in (-1, 0, 1)
                    ]
                )
            ).alias("off"),
        )
        .select("b_id", "bx", "by", (F.col("bcell") + F.col("off")).alias("cell"))
    )
    return (
        a.join(b, "cell")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("ax") - F.col("bx")) <= 10)
            & (F.abs(F.col("ay") - F.col("by")) <= 10)
        )
        .select(
            "a_id",
            "b_id",
            F.abs(F.col("ax") - F.col("bx")).cast("long").alias("dx"),
            F.abs(F.col("ay") - F.col("by")).cast("long").alias("dy"),
        )
    )


# ---------------------------------------------------------------------------
# round-4 additions: correlation matrix, boolean aggregates
# ---------------------------------------------------------------------------


@register(
    "q_agg_corr_matrix",
    oracle="""
    WITH s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS s_q,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS HUGEINT) AS s_p,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT))
                  AS HUGEINT) AS s_d,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS HUGEINT) AS s_qq,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS HUGEINT) AS s_pp,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                      * CAST(round(l_discount * 100) AS BIGINT))
                  AS HUGEINT) AS s_dd,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS HUGEINT) AS s_qp,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(round(l_discount * 100) AS BIGINT))
                  AS HUGEINT) AS s_qd,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round(l_discount * 100) AS BIGINT))
                  AS HUGEINT) AS s_pd
      FROM lineitem
    )
    SELECT p.x, p.y,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr
    FROM s, LATERAL (
      VALUES ('quantity', 'price_cents', s_q, s_p, s_qq, s_pp, s_qp),
             ('quantity', 'discount_pct', s_q, s_d, s_qq, s_dd, s_qd),
             ('price_cents', 'discount_pct', s_p, s_d, s_pp, s_dd, s_pd)
    ) AS p(x, y, sx, sy, sxx, syy, sxy)
    """,
)
def q_agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric
    measures (quantity, price, discount) — the standard EDA matrix, in
    the engine's exact-arithmetic convention: every moment is a sum of
    EXACT integers (quantities are integral; money/percent scale to
    cents) accumulated in decimal(38,0) — order-insensitive, no float
    accumulates — and the Pearson formula runs once per pair on the
    1-row moment table in deterministic double (sqrt is IEEE-exact),
    rounded to 6. Plan: ONE map-side-combined aggregate over the scan
    computes all 10 moments; the 3-pair matrix is a literal unpivot of
    the single row — at 100 TB the cost is the scan, full stop."""
    l = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    p = F.round(F.col("l_extendedprice") * 100).cast("long")
    d = F.round(F.col("l_discount") * 100).cast("long")
    dec = "decimal(38,0)"
    s = l.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(q.cast(dec)).alias("s_q"),
        F.sum(p.cast(dec)).alias("s_p"),
        F.sum(d.cast(dec)).alias("s_d"),
        F.sum((q * q).cast(dec)).alias("s_qq"),
        F.sum((p * p).cast(dec)).alias("s_pp"),
        F.sum((d * d).cast(dec)).alias("s_dd"),
        F.sum((q * p).cast(dec)).alias("s_qp"),
        F.sum((q * d).cast(dec)).alias("s_qd"),
        F.sum((p * d).cast(dec)).alias("s_pd"),
    )
    pairs = s.selectExpr(
        "stack(3, "
        "'quantity', 'price_cents', s_q, s_p, s_qq, s_pp, s_qp, "
        "'quantity', 'discount_pct', s_q, s_d, s_qq, s_dd, s_qd, "
        "'price_cents', 'discount_pct', s_p, s_d, s_pp, s_dd, s_pd"
        ") AS (x, y, sx, sy, sxx, syy, sxy)",
        "n",
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return pairs.select("x", "y", F.round(num / den, 6).alias("corr"))


@register(
    "q_agg_bool",
    oracle="""
    SELECT event_type,
           CAST(count(*) FILTER (WHERE value > 500) AS BIGINT)
             AS n_big,
           bool_and(value >= 0) AS all_nonneg,
           bool_or(value > 990) AS any_huge,
           CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT)
             AS n_even_user
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregate surface — count_if, bool_and
    (``every``), bool_or (``any``) per group: the predicates-as-
    aggregates family SQL dashboards lean on. All four reduce
    map-side; the value comparisons are against integers, so no float
    boundary exists. ONE map-combined aggregate over the scan."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_if(F.col("value") > 500).alias("n_big"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 990).alias("any_huge"),
        F.count_if(F.col("user_id") % 2 == 0).alias("n_even_user"),
    )


# ---------------------------------------------------------------------------
# q_events_user_overlap — audience overlap matrix between event types
# ---------------------------------------------------------------------------


@register(
    "q_events_user_overlap",
    oracle="""
    WITH tu AS MATERIALIZED (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
      SELECT event_type, count(*) AS n FROM tu GROUP BY event_type
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_common
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST(n_common * 1000 // (sa.n + sb.n - n_common) AS BIGINT)
             AS jaccard_permille
    FROM inter
    JOIN sizes sa ON sa.event_type = type_a
    JOIN sizes sb ON sb.event_type = type_b
    """,
)
def q_events_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, the
    exact user-set intersection and Jaccard (floored integer permille)
    — the segment-overlap report behind every "viewers who also
    purchase" analysis. The intersection is computed by ONE self-join
    of the deduplicated (type, user) table ON USER — each user
    contributes its own type-pair combinations (≤ C(5,2) rows), never
    a userset×userset comparison — and set sizes join on from a
    5-row aggregate. Plan: one distinct shuffle on (type, user), one
    user-keyed self-join riding the same hash, two broadcast-sized
    size joins. At 100 TB the distinct is the cost; the pair space is
    |types|², constant."""
    e = load(spark, sf_dir, "events")
    tu = e.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr("n_common * 1000 div (n_a + n_b - n_common)")
            .cast("long")
            .alias("jaccard_permille"),
        )
    )


# ---------------------------------------------------------------------------
# q_dq_reconcile — financial reconciliation of order totals (round 4)
# ---------------------------------------------------------------------------


@register(
    "q_dq_reconcile",
    oracle="""
    WITH recomputed AS (
      SELECT l_orderkey,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(12,2)))
                      * (1 + CAST(l_tax AS DECIMAL(12,2)))
                      AS DECIMAL(27,6))) AS recomp
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (WHERE
             CAST((recomp - CAST(o_totalprice AS DECIMAL(12,2)))
                  * 1000000 AS BIGINT) <> 0) AS BIGINT) AS n_mismatch,
           CAST(max(abs(CAST((recomp
                  - CAST(o_totalprice AS DECIMAL(12,2)))
                  * 1000000 AS BIGINT))) AS BIGINT) AS max_abs_diff_micros,
           CAST(SUM(CAST((recomp
                  - CAST(o_totalprice AS DECIMAL(12,2)))
                  * 1000000 AS BIGINT)) AS BIGINT) AS net_diff_micros
    FROM recomputed JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_dq_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial reconciliation audit: recompute each order's total
    from its line items — Σ extendedprice·(1−discount)·(1+tax) in
    EXACT decimal arithmetic — and reconcile against the denormalized
    ``o_totalprice``, reporting mismatch counts and worst/net drift in
    integer micros per order status. This is the closing-the-books
    audit every pipeline with a denormalized rollup column needs; the
    exact-decimal recompute is the point (a double recompute would
    flag false mismatches from its own rounding, the failure mode
    :mod:`compat` exists to kill).

    Plan: per-order partial aggregate of lineitem FIRST (map-side
    combine on the natural l_orderkey clustering), then one
    co-partitioned join onto orders riding the same orderkey hash, then
    a 3-group status rollup. Both shuffles are linear; at 100 TB the
    lineitem agg dominates and is embarrassingly parallel."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    charge = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
        * (F.lit(1) + F.col("l_tax").cast("decimal(12,2)"))
    )
    recomputed = li.groupBy("l_orderkey").agg(
        F.sum(charge.cast("decimal(27,6)")).alias("recomp")
    )
    diff_micros = (
        (
            F.col("recomp")
            - F.col("o_totalprice").cast("decimal(12,2)")
        )
        * 1000000
    ).cast("long")
    return (
        recomputed.join(
            o.select("o_orderkey", "o_orderstatus", "o_totalprice"),
            recomputed.l_orderkey == F.col("o_orderkey"),
        )
        .select("o_orderstatus", diff_micros.alias("dm"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(F.col("dm") != 0).alias("n_mismatch"),
            F.max(F.abs("dm")).alias("max_abs_diff_micros"),
            F.sum("dm").alias("net_diff_micros"),
        )
    )


# ---------------------------------------------------------------------------
# q_events_retention_rolling — 7-day rolling return rate (round 4)
# ---------------------------------------------------------------------------


@register(
    "q_events_retention_rolling",
    oracle="""
    WITH au AS MATERIALIZED (
      SELECT DISTINCT user_id,
             CAST(ts AS TIMESTAMP)::DATE AS day
      FROM events
    )
    SELECT strftime(a.day, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(count(*) FILTER (WHERE EXISTS (
             SELECT 1 FROM au b
             WHERE b.user_id = a.user_id
               AND b.day > a.day AND b.day <= a.day + INTERVAL 7 DAY
           )) AS BIGINT) AS n_retained,
           CAST(count(*) FILTER (WHERE EXISTS (
             SELECT 1 FROM au b
             WHERE b.user_id = a.user_id
               AND b.day > a.day AND b.day <= a.day + INTERVAL 7 DAY
           )) * 1000 // count(*) AS BIGINT) AS retention_permille
    FROM au a
    GROUP BY a.day
    """,
)
def q_events_retention_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day retention: for every calendar day, the share of
    that day's active users who come back within the next seven days —
    the day-granular return-rate curve product teams watch (distinct
    from q_cohort_retention's signup-cohort matrix: this one has no
    cohort anchor, every day is its own baseline). Exact integers,
    floored permille.

    Plan: one distinct shuffle to (user, day) — ≤31 rows per user, the
    calendar bounds the blow-up — then a user-keyed self-semi-join
    whose range predicate (day, day+7] is a cheap join filter on the
    SAME user hash (no second shuffle), then a per-day count. At
    100 TB the distinct is the only data-sized step; the semi-join
    fan-out is bounded by 31×31 per user."""
    e = load(spark, sf_dir, "events")
    au = e.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    b = au.select(
        F.col("user_id").alias("user_id"),
        F.col("day").alias("bday"),
    )
    retained = (
        au.join(
            b,
            (au.user_id == b.user_id)
            & (F.col("bday") > F.col("day"))
            & (F.col("bday") <= F.date_add(F.col("day"), 7)),
            "left_semi",
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    active = au.groupBy("day").agg(F.count(F.lit(1)).alias("n_active"))
    return (
        active.join(retained, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_active").cast("long").alias("n_active"),
            F.coalesce("n_retained", F.lit(0))
            .cast("long")
            .alias("n_retained"),
            F.expr("coalesce(n_retained, 0) * 1000 div n_active")
            .cast("long")
            .alias("retention_permille"),
        )
    )


# ---------------------------------------------------------------------------
# q_graph_assortativity — degree assortativity coefficient (round 4)
# ---------------------------------------------------------------------------


@register(
    "q_graph_assortativity",
    oracle=f"""
    WITH {_SQL_COPURCHASE_E0},
    e AS MATERIALIZED (SELECT a0 AS u, b0 AS v FROM e0),
    deg AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY node
    ),
    s AS (
      SELECT count(*) AS m,
             SUM(du.d * dv.d) AS sjk,
             SUM(du.d + dv.d) AS sj,
             SUM(du.d * du.d + dv.d * dv.d) AS sj2
      FROM e JOIN deg du ON e.u = du.node
             JOIN deg dv ON e.v = dv.node
    )
    SELECT CAST(m AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           round(CAST(4 * m * sjk - sj * sj AS DOUBLE)
                 / CAST(2 * m * sj2 - sj * sj AS DOUBLE), 6)
             AS assortativity
    FROM s
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002):
    the Pearson correlation of endpoint degrees across edges — the
    one-number answer to "do hubs link to hubs?" that decides whether
    degree-based partitioning (the triangle orientation, the salted
    joins) will see adversarial hub-hub traffic. Computed from FOUR
    integer sums over the edge list (Σjk, Σ(j+k), Σ(j²+k²), M) — the
    textbook formula cleared of denominators so the only floating
    point is one final division of exact integers, identical on both
    engines, rounded once. Long sums hold to ~2e16 wedge-squares
    (three orders past the sf10 graph); the decimal limb device in
    :mod:`compat` is the named escape beyond that.

    Plan: the keyed edge index, one degree aggregate, two joins of the
    small degree table onto edges (broadcast at any tested sf;
    co-partitioned on node at 100 TB), one 1-row fold. Linear in |E|."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    s = (
        e.join(du, "u")
        .join(dv, "v")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum(F.col("du") * F.col("dv")).alias("sjk"),
            F.sum(F.col("du") + F.col("dv")).alias("sj"),
            F.sum(
                F.col("du") * F.col("du") + F.col("dv") * F.col("dv")
            ).alias("sj2"),
        )
    )
    return s.crossJoin(F.broadcast(n_nodes)).select(
        F.col("m").cast("long").alias("n_edges"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.round(
            (4 * F.col("m") * F.col("sjk") - F.col("sj") * F.col("sj"))
            .cast("double")
            / (
                2 * F.col("m") * F.col("sj2")
                - F.col("sj") * F.col("sj")
            ).cast("double"),
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# q_events_window_funnel — ordered funnel within a conversion window
# ---------------------------------------------------------------------------


@register(
    "q_events_window_funnel",
    oracle="""
    WITH ev AS MATERIALIZED (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ),
    t0 AS MATERIALIZED (
      SELECT user_id, min(ts) AS t0 FROM ev
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s1 AS MATERIALIZED (
      SELECT t0.user_id, any_value(t0.t0) AS t0, min(e.ts) AS s1
      FROM t0 JOIN ev e ON e.user_id = t0.user_id
        AND e.event_type = 'view'
        AND e.ts > t0.t0 AND e.ts <= t0.t0 + INTERVAL 48 HOUR
      GROUP BY t0.user_id
    ),
    s2 AS MATERIALIZED (
      SELECT s1.user_id, any_value(s1.t0) AS t0, min(e.ts) AS s2
      FROM s1 JOIN ev e ON e.user_id = s1.user_id
        AND e.event_type = 'click'
        AND e.ts > s1.s1 AND e.ts <= s1.t0 + INTERVAL 48 HOUR
      GROUP BY s1.user_id
    ),
    s3 AS (
      SELECT s2.user_id, min(e.ts) AS s3
      FROM s2 JOIN ev e ON e.user_id = s2.user_id
        AND e.event_type = 'purchase'
        AND e.ts > s2.s2 AND e.ts <= s2.t0 + INTERVAL 48 HOUR
      GROUP BY s2.user_id
    )
    SELECT depth, CAST(count(*) AS BIGINT) AS n_users FROM (
      SELECT t0.user_id,
             1 + (CASE WHEN s1.user_id IS NULL THEN 0 ELSE 1 END)
               + (CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END)
               + (CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END)
               AS depth
      FROM t0
      LEFT JOIN s1 ON s1.user_id = t0.user_id
      LEFT JOIN s2 ON s2.user_id = t0.user_id
      LEFT JOIN s3 ON s3.user_id = t0.user_id
    ) GROUP BY depth
    """,
)
def q_events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed ordered funnel (the windowFunnel of the analytics
    engines): signup → view → click → purchase, each step strictly
    after the previous one and ALL inside 48 h of the user's first
    signup; output is the funnel-depth histogram. Unlike q_funnel
    (lifetime step presence), the conversion clock makes this the
    campaign-attribution form: a purchase three weeks later does not
    count.

    Semantics are the greedy-earliest chain — each step matches the
    EARLIEST qualifying event after the previous step, which maximizes
    remaining window and therefore depth (the standard windowFunnel
    guarantee for a single window anchor). Plan: four grouped
    aggregates all keyed on user_id — Spark plans ONE user_id
    partitioning reused across every join and groupBy (verified: no
    re-Exchange between steps); each step's input is the events table
    pre-filtered to one type. At 100 TB: four linear passes riding one
    shuffle, no window sorts, no fan-out."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    t0 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )

    def _step(prev, prev_ts, etype, out):
        j = ev.filter(F.col("event_type") == etype).join(
            prev,
            "user_id",
        )
        return (
            j.filter(
                (F.col("ts") > F.col(prev_ts))
                & (
                    F.col("ts")
                    <= F.col("t0") + F.expr("INTERVAL 48 HOURS")
                )
            )
            .groupBy("user_id")
            .agg(
                F.any_value(F.col("t0")).alias("t0"),
                F.min("ts").alias(out),
            )
        )

    s1 = _step(t0, "t0", "view", "s1")
    s2 = _step(s1.select("user_id", "t0", "s1"), "s1", "click", "s2")
    s3 = _step(s2.select("user_id", "t0", "s2"), "s2", "purchase", "s3")
    depth = (
        t0.join(s1.select("user_id", "s1"), "user_id", "left")
        .join(s2.select("user_id", "s2"), "user_id", "left")
        .join(s3.select("user_id", "s3"), "user_id", "left")
        .select(
            (
                F.lit(1)
                + F.col("s1").isNotNull().cast("int")
                + F.col("s2").isNotNull().cast("int")
                + F.col("s3").isNotNull().cast("int")
            ).alias("depth")
        )
    )
    return depth.groupBy("depth").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ---------------------------------------------------------------------------
# q_join_asof_tolerance — as-of join with a max-gap tolerance
# ---------------------------------------------------------------------------


@register(
    "q_join_asof_tolerance",
    oracle="""
    WITH ev AS MATERIALIZED (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    p AS (
      SELECT user_id, ts, us,
             (SELECT max(c.us) FROM ev c
              WHERE c.user_id = p.user_id AND c.event_type = 'click'
                AND c.us <= p.us) AS cus
      FROM ev p WHERE event_type = 'purchase'
    )
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(count(*) FILTER (WHERE cus IS NOT NULL
                AND us - cus <= 1800000000) AS BIGINT) AS n_matched,
           CAST(count(*) FILTER (WHERE cus IS NOT NULL
                AND us - cus <= 1800000000) * 1000 // count(*)
                AS BIGINT) AS matched_permille,
           CAST(coalesce(SUM((us - cus) // 1000) FILTER (
                WHERE cus IS NOT NULL AND us - cus <= 1800000000), 0)
                AS BIGINT) AS sum_gap_ms
    FROM p GROUP BY 1
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas merge_asof's ``tolerance=``,
    the ad-attribution matcher): each purchase takes the nearest prior
    click by the same user, but only if the gap is ≤ 30 minutes —
    stale matches are discarded, and the per-day match rate + total
    matched latency are reported. Complements q_join_asof (unbounded
    backward match) with the bounded form production attribution
    actually uses.

    Plan: the union-stream device, not a correlated subquery — clicks
    and purchases interleave in ONE (user_id-partitioned, time-ordered)
    window where ``last(click_ts ignoring nulls)`` carries the as-of
    match to each purchase; ties at identical timestamps order the
    click first (ts, kind), matching the oracle's ``c.us <= p.us``.
    One shuffle, one sort, tolerance applied as a post-filter — the
    same single-pass shape q_join_asof proved, so 100 TB behavior is
    per-user-partition linear. Gap arithmetic is exact integer
    microseconds floored to ms identically on both engines."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        F.unix_micros("ts").alias("us"),
    )
    stream = ev.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "user_id",
        "ts",
        "us",
        (F.col("event_type") == "purchase").cast("int").alias("kind"),
        F.when(F.col("event_type") == "click", F.col("us")).alias(
            "click_us"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        stream.withColumn(
            "cus", F.last("click_us", ignorenulls=True).over(w)
        )
        .filter(F.col("kind") == 1)
        .select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "us",
            "cus",
        )
    )
    ok = F.col("cus").isNotNull() & (
        F.col("us") - F.col("cus") <= 1800000000
    )
    return matched.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count_if(ok).alias("n_matched"),
        F.expr(
            "count_if(cus IS NOT NULL AND us - cus <= 1800000000)"
            " * 1000 div count(1)"
        )
        .cast("long")
        .alias("matched_permille"),
        F.coalesce(
            F.sum(F.when(ok, F.expr("(us - cus) div 1000"))), F.lit(0)
        )
        .cast("long")
        .alias("sum_gap_ms"),
    )


# ---------------------------------------------------------------------------
# q_graph_bfs — multi-source BFS: hop distance to the hub seed set
# ---------------------------------------------------------------------------

#: unrolled min-relaxation rounds in the q_graph_bfs oracle. Measured
#: seed eccentricity: 2 hops at sf0.001, 6 at sf0.01, 5 at sf0.1 (the
#: sf0.01 graph is the connectivity maximum, same as k-core's round
#: curve); the fixpoint's round count is one more (its last round adds
#: nothing). 10 covers it with margin, and a converged distance table
#: is a fixpoint under further relaxation.
#: tests/test_scale.py::test_bfs_converges_within_oracle_unroll pins it.
_BFS_ROUNDS = 10
_BFS_SEEDS = 32


def _sql_bfs_oracle() -> str:
    """Replay min-relaxation round by round: d_{i+1}(n) = min(d_i(n),
    1 + min over in-neighbors d_i). After the layered engine BFS has
    converged, one more relaxation round is a no-op, so an unroll at or
    past convergence equals the engine's fixpoint exactly."""
    sql = [
        f"WITH {_SQL_COPURCHASE_E0}",
        """
    , adj AS MATERIALIZED (SELECT a0 AS u, b0 AS v FROM e0
               UNION ALL SELECT b0, a0 FROM e0)
    , d0 AS MATERIALIZED (
        SELECT u AS node, 0 AS d FROM adj GROUP BY u
        ORDER BY count(*) DESC, u ASC LIMIT {seeds}
    )""".format(seeds=_BFS_SEEDS),
    ]
    prev = "d0"
    for i in range(1, _BFS_ROUNDS + 1):
        sql.append(f"""
    , d{i} AS MATERIALIZED (
        SELECT node, min(d) AS d FROM (
          SELECT node, d FROM {prev}
          UNION ALL
          SELECT adj.v, {prev}.d + 1 FROM adj
          JOIN {prev} ON adj.u = {prev}.node
        ) GROUP BY node
    )""")
        prev = f"d{i}"
    sql.append(f"""
    SELECT CAST(d AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_nodes
    FROM {prev} GROUP BY d
    UNION ALL
    SELECT -1, CAST(count(*) AS BIGINT) FROM (
      SELECT u AS node FROM adj GROUP BY u
      EXCEPT SELECT node FROM {prev}
    ) HAVING count(*) > 0
    """)
    return "".join(sql)


@register("q_graph_bfs", oracle=_sql_bfs_oracle())
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: hop distance from every node to the nearest
    of the top-32 hub seeds (degree-desc, node-asc tie-break) — the
    distance-to-seed-set primitive behind TrustRank-style spam mass,
    influence radius, and "how far is everything from the core"
    audits. Single-source BFS is degenerate on this graph family (the
    support≥2 co-purchase graph fragments at larger part spaces: the
    min-node component has 2 nodes at sf0.1), so the seed-SET form is
    the one that stays meaningful at every scale — exactly why
    production distance queries anchor on a set. Output is the
    distance histogram plus a ``dist = -1`` row counting nodes in
    seedless components (never reached).

    Engine: the single-tag case of the tagged multi-source BFS
    (:func:`_bfs_layers`, all seeds share one tag): layered frontier
    expansion, each node joining once, O(|E|) total work, rounds
    bounded by seed eccentricity (hubs keep it small-world). Its loop
    is :func:`scale.fixpoint`, which owns the checkpoint and probe.
    The oracle replays min-relaxation for _BFS_ROUNDS rounds; a
    convergence test pins the margin (the q_graph_cc /
    q_graph_kcore rule)."""
    dist, adj, _rounds = _bfs_layers(spark, sf_dir)
    hist = dist.groupBy("d").agg(F.count(F.lit(1)).alias("n_nodes"))
    unreached = (
        adj.select(F.col("u").alias("node"))
        .distinct()
        .join(dist.select("node"), "node", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .filter(F.col("n_nodes") > 0)
        .select(F.lit(-1).alias("d"), "n_nodes")
    )
    return hist.unionAll(unreached).select(
        F.col("d").cast("int").alias("dist"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
    )


def _bfs_layers(
    spark: SparkSession,
    sf_dir: str,
    n_seeds: int = _BFS_SEEDS,
    tag_each_seed: bool = False,
):
    """Tagged multi-source BFS over the co-purchase graph from its
    top-``n_seeds`` hubs (degree desc, node asc). Each seed carries a
    tag ``s`` and a node is settled once per tag, at its hop distance
    from the nearest seed with that tag: every seed shares tag 0 for
    q_graph_bfs's distance-to-set, and each seed is its own tag (its
    node id) for q_graph_closeness.

    Per round ONE join of the frontier onto the node-partitioned
    adjacency, a distinct, and an anti-join against the settled
    ``(s, node)`` set, every step riding the node hash; a node joins
    at most once per tag, so total work is O(tags·|E|), the Pregel BFS
    in DataFrame form. Rounds run under :func:`scale.fixpoint`, whose
    per-round lineage cut keeps the plan from doubling each round
    (both the frontier and the settled set embed the previous state);
    settled rows only grow, so a row count is the probe.

    Returns ``(dist, adj, rounds)``: the settled ``(s, node, d)``
    table, the symmetrized adjacency, and the fixpoint's round count
    (tests pin it within the oracles' unrolls)."""
    from streamclient_spark.scale import fixpoint

    e = _copurchase_edges(spark, sf_dir)
    adj = (
        e.select(F.col("u"), F.col("v"))
        .unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(8, "u")
        .localCheckpoint(eager=False)  # materialized by the seed probe
    )
    seeds = (
        adj.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .orderBy(F.desc("deg"), F.asc("u"))
        .limit(n_seeds)
        .select(
            (F.col("u") if tag_each_seed else F.lit(0)).alias("s"),
            F.col("u").alias("node"),
            F.lit(0).alias("d"),
            F.lit(True).alias("frontier"),
        )
    )

    def expand(dist: DataFrame) -> DataFrame:
        nxt = (
            adj.join(
                dist.filter("frontier").select(
                    "s", F.col("node").alias("u"), "d"
                ),
                "u",
            )
            .select("s", F.col("v").alias("node"), (F.col("d") + 1).alias("d"))
            .distinct()
            .join(dist.select("s", "node"), ["s", "node"], "left_anti")
            .withColumn("frontier", F.lit(True))
        )
        return dist.withColumn("frontier", F.lit(False)).unionByName(nxt)

    dist, rounds = fixpoint(
        expand, seeds, probe=[F.count(F.lit(1))], max_rounds=64
    )
    return dist.drop("frontier"), adj, rounds


# ---------------------------------------------------------------------------
# q_events_time_to_convert — signup→purchase latency quantiles (round 4)
# ---------------------------------------------------------------------------


@register(
    "q_events_time_to_convert",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ),
    t0 AS (
      SELECT user_id, min(us) AS us0, min(ts) AS ts0 FROM ev
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
      SELECT t0.user_id, t0.us0, t0.ts0, min(e.us) AS usp
      FROM t0 LEFT JOIN ev e
        ON e.user_id = t0.user_id AND e.event_type = 'purchase'
        AND e.us > t0.us0
      GROUP BY 1, 2, 3
    ),
    gaps AS (
      SELECT strftime(ts0, '%Y-%m-%d') AS cohort_day, user_id,
             CASE WHEN usp IS NULL THEN NULL
                  ELSE (usp - us0) // 3600000000 END AS gap_h
      FROM conv
    ),
    ranked AS (
      SELECT cohort_day, gap_h,
             row_number() OVER (PARTITION BY cohort_day
                                ORDER BY gap_h, user_id) AS rn,
             count(*) OVER (PARTITION BY cohort_day) AS nc
      FROM gaps WHERE gap_h IS NOT NULL
    )
    SELECT g.cohort_day,
           CAST(count(*) AS BIGINT) AS n_signups,
           CAST(count(g.gap_h) AS BIGINT) AS n_converted,
           CAST(count(g.gap_h) * 1000 // count(*) AS BIGINT)
             AS conv_permille,
           CAST(any_value(med.gap_h) AS BIGINT) AS median_hours,
           CAST(any_value(p90.gap_h) AS BIGINT) AS p90_hours
    FROM gaps g
    LEFT JOIN ranked med
      ON med.cohort_day = g.cohort_day AND med.rn = (med.nc + 1) // 2
    LEFT JOIN ranked p90
      ON p90.cohort_day = g.cohort_day
     AND p90.rn = (9 * p90.nc + 9) // 10
    GROUP BY g.cohort_day
    """,
)
def q_events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency report: for each signup-day cohort, how many
    users ever purchase after signing up, and the DISCRETE median and
    p90 hours from first signup to first purchase — the
    time-to-value curve growth teams watch next to the funnel
    (q_events_window_funnel says IF users convert in-window; this
    says HOW LONG conversion takes, unbounded). Quantiles are
    discrete lower-rank selections over the total order
    (gap, user_id) — exact integer ranks, the
    q_agg_percentile_disc convention, so no interpolation and no tie
    ambiguity; gaps are exact integer hours (truncating µs division,
    identical both engines).

    Plan: two user-keyed min-aggregates riding one user hash (the
    window-funnel shape), then per-cohort ranking windows over
    day-bounded partitions — ≤|users-per-day| rows each, no global
    sort — and conditional picks of the two rank rows. Linear
    shuffles; window partitions are calendar-bounded at 100 TB."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", F.unix_micros("ts").alias("us")
    )
    t0 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("us0"), F.min("ts").alias("ts0"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("us").alias("usp")
    )
    conv = (
        t0.join(
            p,
            (F.col("user_id") == F.col("pu"))
            & (F.col("usp") > F.col("us0")),
            "left",
        )
        .groupBy("user_id", "us0", "ts0")
        .agg(F.min("usp").alias("usp"))
    )
    gaps = conv.select(
        F.date_format("ts0", "yyyy-MM-dd").alias("cohort_day"),
        "user_id",
        F.when(
            F.col("usp").isNotNull(),
            F.expr("(usp - us0) div 3600000000"),
        ).alias("gap_h"),
    )
    w = Window.partitionBy("cohort_day").orderBy("gap_h", "user_id")
    ranked = (
        gaps.filter(F.col("gap_h").isNotNull())
        .select(
            "cohort_day",
            "gap_h",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("cohort_day"))
            .alias("nc"),
        )
    )
    quant = ranked.groupBy("cohort_day").agg(
        F.min(
            F.when(F.col("rn") == F.expr("(nc + 1) div 2"), F.col("gap_h"))
        ).alias("median_hours"),
        F.min(
            F.when(
                F.col("rn") == F.expr("(9 * nc + 9) div 10"),
                F.col("gap_h"),
            )
        ).alias("p90_hours"),
    )
    base = gaps.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_signups"),
        F.count("gap_h").alias("n_converted"),
        F.expr("count(gap_h) * 1000 div count(1)")
        .cast("long")
        .alias("conv_permille"),
    )
    return base.join(quant, "cohort_day", "left").select(
        "cohort_day",
        F.col("n_signups").cast("long").alias("n_signups"),
        F.col("n_converted").cast("long").alias("n_converted"),
        "conv_permille",
        F.col("median_hours").cast("long").alias("median_hours"),
        F.col("p90_hours").cast("long").alias("p90_hours"),
    )


# ---------------------------------------------------------------------------
# q_graph_modularity — attribute modularity of the co-purchase graph
# ---------------------------------------------------------------------------


@register(
    "q_graph_modularity",
    oracle=f"""
    WITH {_SQL_COPURCHASE_E0},
    e AS MATERIALIZED (SELECT a0 AS u, b0 AS v FROM e0),
    lbl AS MATERIALIZED (
      SELECT p_partkey AS node, p_brand AS brand FROM part
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY node
    ),
    m AS (SELECT count(*) AS m FROM e),
    dc AS (
      SELECT brand, SUM(d) AS d_c, count(*) AS n_nodes
      FROM deg JOIN lbl USING (node) GROUP BY brand
    ),
    ec AS (
      SELECT la.brand, count(*) AS e_c
      FROM e JOIN lbl la ON e.u = la.node
             JOIN lbl lb ON e.v = lb.node
      WHERE la.brand = lb.brand
      GROUP BY la.brand
    )
    SELECT dc.brand,
           CAST(dc.n_nodes AS BIGINT) AS n_nodes,
           CAST(dc.d_c AS BIGINT) AS degree_sum,
           CAST(coalesce(ec.e_c, 0) AS BIGINT) AS internal_edges,
           round(CAST(coalesce(ec.e_c, 0) AS DOUBLE) / m.m
                 - (CAST(dc.d_c AS DOUBLE) / (2 * m.m))
                   * (CAST(dc.d_c AS DOUBLE) / (2 * m.m)), 6)
             AS contribution
    FROM dc LEFT JOIN ec USING (brand) CROSS JOIN m
    """,
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute modularity (Newman 2003 mixing-by-attribute): does
    the co-purchase graph cluster along part BRANDS? Per brand, the
    modularity contribution e_c/m − (d_c/2m)² — positive means
    same-brand parts co-purchase more than degree chance predicts;
    the sum over brands is the partition's modularity Q. The
    attribute companion of q_graph_assortativity (degree mixing) and
    the evaluation half of any community detection: given ANY label
    column, this query scores it. Exact integer e_c/d_c/m sums; the
    two divisions and one subtraction run identically on both
    engines, rounded once.

    Plan: the keyed edge index, one degree aggregate, two SIZE-GATED
    broadcast joins of the part-brand dimension onto edge endpoints
    (part is fact-scaled, so the hint rides broadcast_if_small — at
    fixture scales it expresses the dimension ≪ edges asymmetry,
    above the ceiling AQE decides), a ≤|brands| aggregate each side,
    one 1-row edge-count scalar. Linear in |E| with no new shuffle
    beyond the degree agg at 100 TB."""
    e = _copurchase_edges(spark, sf_dir)
    lbl = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("brand")
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    m = e.agg(F.count(F.lit(1)).alias("m"))
    # part is fact-scaled: the label-dim broadcasts are size-gated
    # (the q7/q8/q9 r10 policy) — above the ceiling AQE decides
    dc = (
        deg.join(broadcast_if_small(lbl, sf_dir, "part"), "node")
        .groupBy("brand")
        .agg(F.sum("d").alias("d_c"), F.count(F.lit(1)).alias("n_nodes"))
    )
    la = lbl.select(F.col("node").alias("u"), F.col("brand").alias("ba"))
    lb = lbl.select(F.col("node").alias("v"), F.col("brand").alias("bb"))
    ec = (
        e.join(broadcast_if_small(la, sf_dir, "part"), "u")
        .join(broadcast_if_small(lb, sf_dir, "part"), "v")
        .filter(F.col("ba") == F.col("bb"))
        .groupBy(F.col("ba").alias("brand"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    return (
        dc.join(ec, "brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "brand",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("d_c").cast("long").alias("degree_sum"),
            F.coalesce("e_c", F.lit(0))
            .cast("long")
            .alias("internal_edges"),
            F.round(
                F.coalesce("e_c", F.lit(0)).cast("double") / F.col("m")
                - (F.col("d_c").cast("double") / (2 * F.col("m")))
                * (F.col("d_c").cast("double") / (2 * F.col("m"))),
                6,
            ).alias("contribution"),
        )
    )


# ---------------------------------------------------------------------------
# q_skyline_2d — Pareto frontier (skyline) via prefix-max, no self-join
# ---------------------------------------------------------------------------


@register(
    "q_skyline_2d",
    oracle="""
    WITH g AS (
      SELECT p_retailprice AS price, max(p_size) AS mx
      FROM part GROUP BY 1
    ),
    f AS (
      SELECT price, mx FROM (
        SELECT price, mx,
               max(mx) OVER (ORDER BY price
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS pmx
        FROM g
      ) WHERE pmx IS NULL OR mx > pmx
    )
    SELECT p.p_partkey AS part_key,
           p.p_retailprice AS retail_price,
           CAST(p.p_size AS BIGINT) AS part_size
    FROM part p
    JOIN f ON p.p_retailprice = f.price AND p.p_size = f.mx
    """,
)
def q_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): the parts no other part
    dominates on (price ↓ better, size ↑ better) — a part is OFF the
    frontier iff some part is no more expensive AND no smaller with
    at least one strict. The classic formulation is a dominance
    anti-self-join (quadratic); the 2-D case collapses to a staircase:
    after keying by price, a price level is on the frontier iff its
    max size strictly beats the prefix-max size over all strictly
    cheaper levels (ties at the same (price, size) all survive —
    neither strictly dominates the other).

    Plan: one hash aggregate (price → max size) shrinks the corpus to
    its distinct-price spine; `scale.running_max_by_range` computes
    the STRICT prefix max over that spine with a range shuffle +
    per-partition windows + a |partitions|-row broadcast offset — no
    single-task global window (the q_events_rfm lesson) and no
    dominance join anywhere; one final equi-join back onto the corpus
    emits the frontier rows. Linear shuffles only; at 100 TB the
    spine is |distinct prices| ≪ |parts| and everything downstream of
    the first aggregate is spine-sized."""
    from streamclient_spark.scale import running_max_by_range

    p = load(spark, sf_dir, "part")
    g = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("mx")
    )
    f = running_max_by_range(
        g, ["price"], "mx", out_col="pmx", strict=True
    ).filter(F.col("pmx").isNull() | (F.col("mx") > F.col("pmx")))
    return p.join(
        f,
        (p["p_retailprice"] == f["price"]) & (p["p_size"] == f["mx"]),
    ).select(
        F.col("p_partkey").alias("part_key"),
        F.col("p_retailprice").alias("retail_price"),
        F.col("p_size").cast("long").alias("part_size"),
    )


# ---------------------------------------------------------------------------
# q_agg_hll_parity — from-scratch HyperLogLog with cross-engine parity
# ---------------------------------------------------------------------------

_HLL_H = "md5('hll:' || CAST(user_id AS VARCHAR))"


@register(
    "q_agg_hll_parity",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             CAST(('0x' || substr({_HLL_H}, 1, 2)) AS BIGINT) AS idx,
             CAST(('0x' || substr({_HLL_H}, 3, 13)) AS BIGINT) AS w
      FROM events
    ),
    regs AS (
      SELECT event_type, idx,
             max(CASE WHEN w = 0 THEN 53
                      ELSE 53 - length(bin(w)) END) AS reg
      FROM h GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type, max(reg) AS r_max, count(*) AS n_present
      FROM regs GROUP BY 1
    ),
    s AS (
      SELECT regs.event_type, t.r_max, t.n_present,
             CAST(SUM(1::BIGINT << CAST(t.r_max - regs.reg AS INT))
                  AS BIGINT) AS s_present
      FROM regs JOIN t USING (event_type)
      GROUP BY 1, 2, 3
    ),
    x AS (
      SELECT event_type, r_max,
             256 - n_present AS v_zero,
             CAST(s_present + (256 - n_present)
                  * (1::BIGINT << CAST(r_max AS INT)) AS BIGINT) AS s_all
      FROM s
    ),
    est AS (
      SELECT event_type, r_max, v_zero,
             CASE WHEN ((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                        * CAST(1::BIGINT << CAST(r_max AS INT) AS DOUBLE)
                        / CAST(s_all AS DOUBLE)) <= 640.0
                   AND v_zero > 0
                  THEN round(256.0 * ln(256.0 / v_zero), 6)
                  ELSE round((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                             * CAST(1::BIGINT << CAST(r_max AS INT)
                                    AS DOUBLE)
                             / CAST(s_all AS DOUBLE), 6)
             END AS hll_estimate
      FROM x
    ),
    ex AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_users
      FROM events GROUP BY 1
    )
    SELECT est.event_type,
           CAST(ex.exact_users AS BIGINT) AS exact_users,
           CAST(est.v_zero AS BIGINT) AS n_zero_regs,
           CAST(est.r_max AS BIGINT) AS max_rho,
           est.hll_estimate,
           CAST(floor(abs(est.hll_estimate - ex.exact_users) * 1000.0
                      / ex.exact_users) AS BIGINT) AS err_permille
    FROM est JOIN ex USING (event_type)
    """,
)
def q_agg_hll_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog (Flajolet 2007) built from scratch as a DataFrame
    composition, with CROSS-ENGINE-DETERMINISTIC estimates: unlike
    ``approx_count_distinct`` (engine-private hash → rows-only check),
    every step here — md5-derived 60-bit hash, 256 registers from the
    top byte, rank = leading zeros of the remaining 52 bits via
    ``53 - length(bin(w))``, register max, harmonic-mean estimator
    with the small-range linear-counting branch — is exact integer or
    textually identical IEEE arithmetic on both engines, so the
    ESTIMATE ITSELF hash-matches the oracle. The harmonic sum
    Σ2^-M_j is computed as the exact integer Σ2^(R-M_j) (R = max
    register, ≤53, so terms fit a BIGINT ×256) and divided once;
    per event_type the output carries the exact distinct-user count
    next to the sketch estimate and its integer-permille error.

    This is the mergeable-sketch pattern at 100 TB: the register table
    (|groups|·256 rows) IS the sketch — map-side combine reduces each
    partition to ≤256 rows per group before the shuffle, unions of
    corpora merge by register max, and the estimator runs on the tiny
    merged table. The exact count_distinct alongside is the audit
    column (at true 100 TB scale one would sample-audit instead).

    Spark surface: groupBy/agg, bin/conv/md5 codegen expressions —
    no UDF, no Python."""
    e = load(spark, sf_dir, "events").select("event_type", "user_id")
    hx = F.md5(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    idx = F.conv(F.substring(hx, 1, 2), 16, 10).cast("bigint")
    w = F.conv(F.substring(hx, 3, 13), 16, 10).cast("bigint")
    rho = F.when(w == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(w))
    )
    regs = (
        e.select("event_type", idx.alias("idx"), rho.alias("reg"))
        .groupBy("event_type", "idx")
        .agg(F.max("reg").alias("reg"))
        .localCheckpoint(eager=False)  # tiny; feeds r_max and the sum
    )
    t = regs.groupBy("event_type").agg(
        F.max("reg").alias("r_max"), F.count(F.lit(1)).alias("n_present")
    )
    s = (
        regs.join(F.broadcast(t), "event_type")
        .groupBy("event_type", "r_max", "n_present")
        .agg(
            F.sum(
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT),"
                    " CAST(r_max - reg AS INT))"
                )
            ).alias("s_present")
        )
    )
    x = s.select(
        "event_type",
        "r_max",
        (F.lit(256) - F.col("n_present")).alias("v_zero"),
        (
            F.col("s_present")
            + (F.lit(256) - F.col("n_present"))
            * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(r_max AS INT))")
        ).alias("s_all"),
    )
    pow2r = F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(r_max AS INT)) AS DOUBLE)"
    )
    e_raw = (
        F.lit(0.7213 / (1.0 + 1.079 / 256.0))
        * F.lit(65536.0)
        * pow2r
        / F.col("s_all").cast("double")
    )
    est = x.select(
        "event_type",
        "r_max",
        "v_zero",
        F.when(
            (e_raw <= 640.0) & (F.col("v_zero") > 0),
            F.round(F.lit(256.0) * F.log(F.lit(256.0) / F.col("v_zero")), 6),
        )
        .otherwise(F.round(e_raw, 6))
        .alias("hll_estimate"),
    )
    ex = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return est.join(F.broadcast(ex), "event_type").select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        F.col("v_zero").cast("long").alias("n_zero_regs"),
        F.col("r_max").cast("long").alias("max_rho"),
        "hll_estimate",
        F.floor(
            F.abs(F.col("hll_estimate") - F.col("exact_users"))
            * 1000.0
            / F.col("exact_users")
        )
        .cast("long")
        .alias("err_permille"),
    )


# ---------------------------------------------------------------------------
# q_events_ab_test — deterministic hash-split A/B with Welch's t
# ---------------------------------------------------------------------------


@register(
    "q_events_ab_test",
    oracle="""
    WITH a AS (
      SELECT event_type,
             CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 2 AS arm,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    g AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                  AS DECIMAL(38,0)) AS na,
             CAST(SUM(CASE WHEN arm = 0 THEN cents ELSE 0 END)
                  AS DECIMAL(38,0)) AS sa,
             CAST(SUM(CASE WHEN arm = 0 THEN cents * cents ELSE 0 END)
                  AS DECIMAL(38,0)) AS saa,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                  AS DECIMAL(38,0)) AS nb,
             CAST(SUM(CASE WHEN arm = 1 THEN cents ELSE 0 END)
                  AS DECIMAL(38,0)) AS sb,
             CAST(SUM(CASE WHEN arm = 1 THEN cents * cents ELSE 0 END)
                  AS DECIMAL(38,0)) AS sbb
      FROM a GROUP BY 1
    )
    SELECT event_type,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 100.0, 6)
             AS mean_a,
           round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0, 6)
             AS mean_b,
           round((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 100.0
                  - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0)
                 / SQRT(
                     CAST(na * saa - sa * sa AS DOUBLE)
                       / CAST(na * (na - 1) AS DOUBLE) / 10000.0
                       / CAST(na AS DOUBLE)
                     + CAST(nb * sbb - sb * sb AS DOUBLE)
                       / CAST(nb * (nb - 1) AS DOUBLE) / 10000.0
                       / CAST(nb AS DOUBLE)), 6) AS t_welch
    FROM g
    """,
)
def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users are deterministically split into
    two arms by the cross-engine md5 hash (``hash32('ab:'||user_id) %
    2`` — the same bucketing a production experimentation system
    derives from a unit id + experiment salt, and reproducible across
    engines, runs, and retries, unlike ``rand()``), then per event
    type the per-arm means of ``value`` are compared with WELCH'S
    t-statistic (unequal variances). All moments are EXACT integer
    sums in cents (the q_agg_stats doctrine: n/Σx/Σx² per arm in one
    conditional-aggregate pass — no second scan, no per-arm shuffle),
    and the t closed form evaluates in textually identical double
    arithmetic on both engines, rounded once.

    100 TB plan: a single map-combined hash aggregate over the corpus
    carrying 6 long accumulators per (event_type) group — the arm
    split is a projection, not a partition — then scalar algebra on
    the |event_types|-row table."""
    from streamclient_spark.functions.dedup import hash32

    e = load(spark, sf_dir, "events")
    arm = F.pmod(
        hash32(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
        F.lit(2),
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    a0 = (arm == 0).cast("long")
    a1 = (arm == 1).cast("long")
    g = (
        e.select(
            "event_type",
            a0.alias("i0"),
            a1.alias("i1"),
            cents.alias("c"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("i0").alias("na"),
            F.sum(F.col("i0") * F.col("c")).alias("sa"),
            F.sum(F.col("i0") * F.col("c") * F.col("c")).alias("saa"),
            F.sum("i1").alias("nb"),
            F.sum(F.col("i1") * F.col("c")).alias("sb"),
            F.sum(F.col("i1") * F.col("c") * F.col("c")).alias("sbb"),
        )
    )
    dec = "decimal(38,0)"
    na, sa, saa = (F.col(c).cast(dec) for c in ("na", "sa", "saa"))
    nb, sb, sbb = (F.col(c).cast(dec) for c in ("nb", "sb", "sbb"))
    mean_a = sa.cast("double") / na.cast("double") / F.lit(100.0)
    mean_b = sb.cast("double") / nb.cast("double") / F.lit(100.0)
    var_a = (
        (na * saa - sa * sa).cast("double")
        / (na * (na - F.lit(1))).cast("double")
        / F.lit(10000.0)
    )
    var_b = (
        (nb * sbb - sb * sb).cast("double")
        / (nb * (nb - F.lit(1))).cast("double")
        / F.lit(10000.0)
    )
    return g.select(
        "event_type",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(
            (mean_a - mean_b)
            / F.sqrt(var_a / na.cast("double") + var_b / nb.cast("double")),
            6,
        ).alias("t_welch"),
    )


# ---------------------------------------------------------------------------
# q_graph_label_prop — fixed-round synchronous label propagation
# ---------------------------------------------------------------------------

#: synchronous LPA rounds. BOTH engines run exactly this many, so the
#: result is deterministic by construction (the q_embed_pca_power
#: fixed-point doctrine) — no convergence pin needed, unlike the CC/
#: BFS/k-core unrolls whose oracles must cover the engine's fixpoint.
_LPA_ROUNDS = 4


def _sql_lpa_oracle() -> str:
    rounds = []
    for r in range(1, _LPA_ROUNDS + 1):
        p = r - 1
        rounds.append(
            f"""
    v{r} AS (
      SELECT e.u AS node, l.lbl FROM e JOIN l{p} l ON l.node = e.v
      UNION ALL
      SELECT e.v AS node, l.lbl FROM e JOIN l{p} l ON l.node = e.u
      UNION ALL
      SELECT node, lbl FROM l{p}
    ),
    c{r} AS (SELECT node, lbl, count(*) AS c FROM v{r} GROUP BY 1, 2),
    l{r} AS (
      SELECT node, lbl FROM c{r}
      QUALIFY row_number() OVER (PARTITION BY node
                                 ORDER BY c DESC, lbl ASC) = 1
    )"""
        )
    return (
        f"WITH {_SQL_COPURCHASE_E0},"
        " e AS MATERIALIZED (SELECT a0 AS u, b0 AS v FROM e0),"
        " nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),"
        " l0 AS (SELECT node, node AS lbl FROM nodes),"
        + ",".join(rounds)
        + f"""
    SELECT lbl AS community,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS rep_node
    FROM l{_LPA_ROUNDS} GROUP BY 1
    """
    )


@register("q_graph_label_prop", oracle=_sql_lpa_oracle())
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    2007) over the co-purchase graph — the DETECTION half whose output
    q_graph_modularity is the evaluation half of. Every node starts as
    its own label; each round every node adopts the most frequent
    label among its neighbors plus one self-vote, ties broken toward
    the SMALLEST label (the determinism fix for classic LPA's random
    tie-break). Both engines run exactly ``_LPA_ROUNDS`` (4) synchronous
    rounds, so engine and oracle agree by construction — fixed-point
    doctrine, not a convergence bet. Output: per surviving community,
    its size and smallest member.

    Plan per round: two edge⋈label equi-joins (edges co-partitioned by
    endpoint key — the pagerank shuffle shape, linear in |E|), a
    (node, label) count aggregate, and a per-node argmax window
    (partitioned by node — parallel, never global). Each round's label
    table is localCheckpoint'd: the next round references it three
    times, and without the cut Catalyst re-analyzes a doubling plan
    per round (the q_graph_bfs lesson). r12: the checkpoints are LAZY
    — they still cut the plan, but the store job folds into the next
    round's (or the final action's) execution instead of launching
    eagerly per round (the star-CC materializer device; LPA runs a
    FIXED round count, so no emptiness/convergence probe needs the
    blocks early)."""
    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    lbl = nodes.select("node", F.col("node").alias("lbl")).localCheckpoint(
        eager=False
    )
    w = Window.partitionBy("node").orderBy(
        F.desc("c"), F.asc("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        lv = lbl.select(F.col("node").alias("ln"), "lbl")
        votes = (
            e.join(lv, e["v"] == lv["ln"]).select(
                F.col("u").alias("node"), "lbl"
            )
            .union(
                e.join(lv, e["u"] == lv["ln"]).select(
                    F.col("v").alias("node"), "lbl"
                )
            )
            .union(lbl)
        )
        cnt = votes.groupBy("node", "lbl").agg(
            F.count(F.lit(1)).alias("c")
        )
        lbl = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
            .localCheckpoint(eager=False)
        )
    return lbl.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("node").cast("long").alias("rep_node"),
    )


# ---------------------------------------------------------------------------
# q_events_powerlaw — Hill estimator of the user-activity tail exponent
# ---------------------------------------------------------------------------


@register(
    "q_events_powerlaw",
    oracle="""
    WITH ux AS (
      SELECT event_type, user_id, count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    dist AS (
      SELECT event_type, x, count(*) AS cnt
      FROM ux WHERE x >= 5 GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(SUM(cnt) AS BIGINT) AS n_tail,
             CAST(MAX(x) AS BIGINT) AS max_x,
             SUM(cnt * CAST(round(ln(x / 5.0), 6) AS DECIMAL(27,6)))
               AS sum_ln
      FROM dist GROUP BY 1
    )
    SELECT event_type, n_tail, max_x,
           CASE WHEN sum_ln = 0 THEN NULL
                ELSE round(1.0 + n_tail / CAST(sum_ln AS DOUBLE), 6)
           END AS alpha_hill
    FROM s
    """,
)
def q_events_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law tail exponent of per-user activity by the Hill / MLE
    estimator (Clauset-Shalizi-Newman 2009): per event type, over users
    with at least x_min = 5 events, α = 1 + n / Σ ln(x_i / x_min) — the
    one-number answer to "how heavy-tailed is engagement?" that sizes
    skew mitigation (salting thresholds, hot-key caps) and sampling
    designs. The Σln runs over the VALUE DISTRIBUTION (x, count(x)),
    not per user: each distinct activity level contributes
    count·round(ln(x/5), 6) into an exact decimal sum — the libm
    convention with |distinct x| ≪ |users| terms — and α finishes in
    one identical double expression (NULL when the tail is degenerate
    at exactly x_min).

    Plan: one map-combined (type, user) count, one (type, x) count of
    counts — both linear shuffles that shrink monotonically — then
    |types| rows of algebra. No scalars, no windows."""
    e = load(spark, sf_dir, "events")
    ux = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("x")
    )
    dist = (
        ux.filter(F.col("x") >= 5)
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    term = F.col("cnt") * F.round(
        F.log(F.col("x") / F.lit(5.0)), 6
    ).cast("decimal(27,6)")
    s = dist.groupBy("event_type").agg(
        F.sum("cnt").alias("n_tail"),
        F.max("x").alias("max_x"),
        F.sum(term).alias("sum_ln"),
    )
    return s.select(
        "event_type",
        F.col("n_tail").cast("long").alias("n_tail"),
        F.col("max_x").cast("long").alias("max_x"),
        F.when(F.col("sum_ln") == 0, F.lit(None)).otherwise(
            F.round(
                F.lit(1.0)
                + F.col("n_tail") / F.col("sum_ln").cast("double"),
                6,
            )
        ).alias("alpha_hill"),
    )


# ---------------------------------------------------------------------------
# q_events_cohort_ltv — cumulative revenue per signup cohort by age
# ---------------------------------------------------------------------------


@register(
    "q_events_cohort_ltv",
    oracle="""
    WITH d0 AS (
      SELECT min(CAST(ts AS TIMESTAMP)::DATE) AS d0 FROM events
    ),
    ev AS MATERIALIZED (
      SELECT user_id, event_type,
             CAST(date_diff('day', d0.d0,
                  CAST(ts AS TIMESTAMP)::DATE) AS BIGINT) // 7 AS wk,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events CROSS JOIN d0
    ),
    firsts AS (SELECT user_id, min(wk) AS w0 FROM ev GROUP BY 1),
    cohorts AS (
      SELECT w0, count(*) AS n_users FROM firsts GROUP BY 1
    ),
    maxw AS (SELECT max(wk) AS mw FROM ev),
    buy AS (
      SELECT f.w0, e.wk - f.w0 AS age,
             CAST(SUM(e.cents) AS BIGINT) AS rev
      FROM ev e JOIN firsts f USING (user_id)
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    ),
    spine AS (
      SELECT c.w0, c.n_users, g.age
      FROM cohorts c
      CROSS JOIN (SELECT unnest(range(0,
                    (SELECT mw FROM maxw) + 1)) AS age) g
      CROSS JOIN maxw
      WHERE g.age <= maxw.mw - c.w0
    ),
    cum AS (
      SELECT w0, n_users, age,
             SUM(coalesce(buy.rev, 0)) OVER (
               PARTITION BY w0 ORDER BY age
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_cents
      FROM spine LEFT JOIN buy USING (w0, age)
    )
    SELECT w0 AS cohort_week, CAST(age AS BIGINT) AS age_weeks,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(cum_cents AS BIGINT) AS cum_revenue_cents,
           round(CAST(cum_cents AS DOUBLE) / 100.0 / n_users, 6)
             AS ltv_per_user
    FROM cum
    """,
)
def q_events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users cohorted by first-seen week,
    then per cohort the CUMULATIVE purchase revenue by cohort age in
    weeks, normalized per user — the revenue companion of
    q_cohort_retention and the curve every payback-period decision
    reads. Ages with no purchases still appear (the spine is generated
    per cohort out to the corpus max week), so the curve is flat, not
    missing, through quiet weeks. Revenue stays exact integer cents
    through the cumulative sum; the per-user division is the rounded
    epilogue.

    Plan: one (user, week) projection, a per-user min-week aggregate,
    a broadcast cohort join back onto purchases, and a cohort-keyed
    running sum over the weeks-squared spine (window PARTITIONED by
    cohort — parallel, bounded by calendar weeks, never user-sized).
    Two 1-row scalars (corpus min day, max week) broadcast."""
    e = load(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.to_date("ts")).alias("d0"))
    ev = e.crossJoin(F.broadcast(d0)).select(
        "user_id",
        "event_type",
        F.expr("CAST(datediff(to_date(ts), d0) AS BIGINT) div 7").alias(
            "wk"
        ),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    ev = ev.localCheckpoint(eager=False)  # firsts + maxw + buy reuse
    firsts = ev.groupBy("user_id").agg(F.min("wk").alias("w0"))
    cohorts = firsts.groupBy("w0").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    maxw = ev.agg(F.max("wk").alias("mw"))
    buy = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy("w0", (F.col("wk") - F.col("w0")).alias("age"))
        .agg(F.sum("cents").alias("rev"))
    )
    spine = cohorts.crossJoin(F.broadcast(maxw)).select(
        "w0",
        "n_users",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("mw") - F.col("w0"))
        ).alias("age"),
    )
    w = (
        Window.partitionBy("w0")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = spine.join(buy, ["w0", "age"], "left").select(
        "w0",
        "n_users",
        "age",
        F.sum(F.coalesce("rev", F.lit(0))).over(w).alias("cum_cents"),
    )
    return cum.select(
        F.col("w0").alias("cohort_week"),
        F.col("age").cast("long").alias("age_weeks"),
        F.col("n_users").cast("long").alias("n_users"),
        F.col("cum_cents").cast("long").alias("cum_revenue_cents"),
        F.round(
            F.col("cum_cents").cast("double")
            / F.lit(100.0)
            / F.col("n_users"),
            6,
        ).alias("ltv_per_user"),
    )


# ---------------------------------------------------------------------------
# q_agg_countmin — Count-Min frequency sketch with cross-engine parity
# ---------------------------------------------------------------------------


@register(
    "q_agg_countmin",
    oracle="""
    WITH counts AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY 1
    ),
    keys AS (
      SELECT counts.user_id, counts.n, j.j,
             CAST(('0x' || substr(md5('cm' || CAST(j.j AS VARCHAR)
                   || ':' || CAST(counts.user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 256 AS idx
      FROM counts CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j
    ),
    counters AS (
      SELECT j, idx, CAST(SUM(n) AS BIGINT) AS counter
      FROM keys GROUP BY 1, 2
    ),
    top20 AS (
      SELECT user_id, n FROM counts
      ORDER BY n DESC, user_id ASC LIMIT 20
    )
    SELECT k.user_id,
           CAST(any_value(k.n) AS BIGINT) AS exact_n,
           CAST(min(c.counter) AS BIGINT) AS cm_estimate,
           CAST(min(c.counter) - any_value(k.n) AS BIGINT)
             AS overestimate
    FROM keys k
    JOIN counters c ON c.j = k.j AND c.idx = k.idx
    WHERE k.user_id IN (SELECT user_id FROM top20)
    GROUP BY k.user_id
    """,
)
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode-Muthukrishnan 2005) with CROSS-ENGINE
    PARITY — the frequency twin of q_agg_hll_parity's cardinality
    sketch: 4 hash rows × 256 counters, each row indexed by an
    independent md5-derived hash, point estimate = MIN over the 4 row
    counters (never underestimates; collisions only inflate). Pure
    integer end to end, so the ESTIMATES hash-match the oracle
    exactly. Read out for the top-20 users by exact activity (total
    order: count desc, user_id asc) with the overestimate column
    making collision error visible.

    Plan: the corpus reduces to per-user counts first (one
    map-combined aggregate); the 1024-cell counter table builds from
    that COUNT TABLE, not the corpus (CM is linear — summing
    pre-aggregated counts is the same sketch), so the 4-way hash
    explosion multiplies |users|, not |events|. The top-k readout is
    a TakeOrdered (k·tasks rows to the driver) joined back against
    the 1024-row counter table by broadcast."""
    e = load(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    counts = counts.localCheckpoint(eager=False)  # keys + top20 reuse
    keys = counts.select(
        "user_id",
        "n",
        F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j"),
    ).select(
        "user_id",
        "n",
        "j",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("cm"),
                            F.col("j").cast("string"),
                            F.lit(":"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 256
        ).alias("idx"),
    )
    keys = keys.localCheckpoint(eager=False)  # counters + readout reuse
    counters = keys.groupBy("j", "idx").agg(F.sum("n").alias("counter"))
    top20 = counts.orderBy(F.desc("n"), F.asc("user_id")).limit(20)
    return (
        keys.join(F.broadcast(top20.select("user_id")), "user_id")
        .join(F.broadcast(counters), ["j", "idx"])
        .groupBy("user_id")
        .agg(
            F.any_value(F.col("n")).cast("long").alias("exact_n"),
            F.min("counter").cast("long").alias("cm_estimate"),
            (F.min("counter") - F.any_value(F.col("n")))
            .cast("long")
            .alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# q_agg_bloom — Bloom membership sketch with cross-engine parity
# ---------------------------------------------------------------------------

_BLOOM_M = 65536  # bits (fixture constant; production sizes m ≈ 10n)
_BLOOM_K = 3  # hash functions

_SQL_BLOOM_IDX = (
    "CAST(('0x' || substr(md5('bl' || CAST(j AS VARCHAR) || ':'"
    " || CAST(custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 65536"
)


@register(
    "q_agg_bloom",
    oracle=f"""
    WITH members AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    bits AS (
      SELECT DISTINCT {_SQL_BLOOM_IDX} AS idx
      FROM members CROSS JOIN (SELECT unnest(range(0, {_BLOOM_K})) AS j)
    ),
    probes AS (
      SELECT c.c_custkey AS custkey, j.j, {_SQL_BLOOM_IDX} AS idx,
             m.custkey IS NOT NULL AS is_member
      FROM customer c
      CROSS JOIN (SELECT unnest(range(0, {_BLOOM_K})) AS j) j
      LEFT JOIN members m ON m.custkey = c.c_custkey
    ),
    verdicts AS (
      SELECT custkey, any_value(is_member) AS is_member,
             (count(bits.idx) = {_BLOOM_K}) AS positive
      FROM probes LEFT JOIN bits USING (idx)
      GROUP BY custkey
    )
    SELECT CAST({_BLOOM_M} AS BIGINT) AS m_bits,
           CAST({_BLOOM_K} AS BIGINT) AS k_hashes,
           CAST((SELECT count(*) FROM members) AS BIGINT) AS n_members,
           CAST((SELECT count(*) FROM bits) AS BIGINT) AS bits_set,
           CAST(SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nonmembers,
           CAST(SUM(CASE WHEN is_member AND NOT positive
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS false_negatives,
           CAST(SUM(CASE WHEN positive AND NOT is_member
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS false_positives,
           CAST(SUM(CASE WHEN positive AND NOT is_member
                         THEN 1 ELSE 0 END) * 1000
                // SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END)
                AS BIGINT) AS fpr_permille
    FROM verdicts
    """,
)
def q_agg_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter with CROSS-ENGINE PARITY — the membership third of
    the sketch family (q_agg_hll_parity counts distinct, q_agg_countmin
    counts frequency, this answers "is x in the set?"): 3 md5-derived
    hash positions per key in a 65536-bit array, membership claim =
    all 3 bits set. Built over the customers-with-URGENT-orders
    set and probed with EVERY customer — the ~1/7 of customers who
    never place an urgent order supply real negatives at every scale
    factor (urgent orders ≈ 2 per customer, so coverage sits near
    1−e⁻² ≈ 86% independent of sf), so the output measures the actual
    false-positive rate (and proves false_negatives = 0, the Bloom
    guarantee) in exact integers. This is the sketch behind the
    engine's runtime bloom-pruned joins (scale levers), here as an
    auditable operator.

    Plan: distinct members (one shuffle, shrinking), the ≤65536-row
    bit set DISTINCT'd from a members×3 projection, probes as a
    3-way explode of the customer dimension joined against the
    BROADCAST bit set, one final 1-row aggregate. The big-table work
    is the orders distinct; everything else is dimension-sized. At
    real scale the bit set ships exactly like this — built small,
    broadcast to every probe task."""
    members = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
        .localCheckpoint(eager=False)  # bits + probe flag + count reuse
    )

    def bloom_idx():
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("bl"),
                            F.col("j").cast("string"),
                            F.lit(":"),
                            F.col("custkey").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % _BLOOM_M
        )

    js = F.explode(F.array(*[F.lit(j) for j in range(_BLOOM_K)])).alias(
        "j"
    )
    bits = (
        members.select("custkey", js)
        .select(bloom_idx().alias("idx"))
        .distinct()
    )
    probes = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("custkey"))
        .join(
            members.select("custkey", F.lit(True).alias("is_member")),
            "custkey",
            "left",
        )
        .select(
            "custkey", F.coalesce("is_member", F.lit(False)).alias(
                "is_member"
            ), js
        )
        .select("custkey", "is_member", bloom_idx().alias("idx"))
    )
    verdicts = (
        probes.join(
            F.broadcast(bits.select("idx", F.lit(1).alias("hit"))),
            "idx",
            "left",
        )
        .groupBy("custkey")
        .agg(
            F.any_value("is_member").alias("is_member"),
            (F.count("hit") == _BLOOM_K).alias("positive"),
        )
    )
    n_members = members.agg(F.count(F.lit(1)).alias("n_members"))
    n_bits = bits.agg(F.count(F.lit(1)).alias("bits_set"))
    fp = F.sum(
        (F.col("positive") & ~F.col("is_member")).cast("long")
    )
    nn = F.sum((~F.col("is_member")).cast("long"))
    return (
        verdicts.agg(
            nn.alias("n_nonmembers"),
            F.sum(
                (F.col("is_member") & ~F.col("positive")).cast("long")
            ).alias("false_negatives"),
            fp.alias("false_positives"),
        )
        .crossJoin(F.broadcast(n_members))
        .crossJoin(F.broadcast(n_bits))
        .select(
            F.lit(_BLOOM_M).cast("long").alias("m_bits"),
            F.lit(_BLOOM_K).cast("long").alias("k_hashes"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("bits_set").cast("long").alias("bits_set"),
            F.col("n_nonmembers").cast("long").alias("n_nonmembers"),
            F.col("false_negatives").cast("long").alias(
                "false_negatives"
            ),
            F.col("false_positives").cast("long").alias(
                "false_positives"
            ),
            F.expr("false_positives * 1000 div n_nonmembers")
            .cast("long")
            .alias("fpr_permille"),
        )
    )


# ---------------------------------------------------------------------------
# q_graph_hits — HITS hubs/authorities on the customer→part bipartite graph
# ---------------------------------------------------------------------------

#: full HITS iterations (h then a per iteration). Both engines run
#: exactly this many with EXACT integer sums and no per-round
#: normalization (scores stay well inside decimal38 at fixture
#: degrees), so the result is deterministic by construction — the
#: q_embed_pca_power fixed-point doctrine. Production note: at degrees
#: where deg^(2k) threatens 38 digits, reintroduce the per-round
#: integer renormalization (the PageRank kernel's shape).
_HITS_ITERS = 2
_HITS_TOPK = 15


def _sql_hits_oracle() -> str:
    head = """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    a0 AS (SELECT DISTINCT p, CAST(1000 AS HUGEINT) AS a FROM e)
    """
    steps = []
    prev = "a0"
    for k in range(1, _HITS_ITERS + 1):
        steps.append(f"""
    , h{k} AS MATERIALIZED (
        SELECT e.c, SUM({prev}.a) AS h
        FROM e JOIN {prev} ON {prev}.p = e.p GROUP BY e.c
    ), a{k} AS MATERIALIZED (
        SELECT e.p, SUM(h{k}.h) AS a
        FROM e JOIN h{k} ON h{k}.c = e.c GROUP BY e.p
    )""")
        prev = f"a{k}"
    tail = f"""
    , mx AS (SELECT max(a) AS m FROM {prev}),
    ranked AS (
      SELECT p, (a * 1000) // mx.m AS auth_permille,
             row_number() OVER (ORDER BY a DESC, p) AS rank
      FROM {prev} CROSS JOIN mx
    )
    SELECT CAST(rank AS BIGINT) AS rank, p AS part_key,
           part.p_brand AS brand,
           CAST(auth_permille AS BIGINT) AS auth_permille
    FROM ranked JOIN part ON part.p_partkey = ranked.p
    WHERE rank <= {_HITS_TOPK}
    """
    return head + "".join(steps) + tail


@register("q_graph_hits", oracle=_sql_hits_oracle())
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) on the customer→part purchase bipartite
    graph: hub scores live on customers, authority scores on parts,
    each refining the other — the "parts that well-connected buyers
    buy" ranking, which differs from raw popularity exactly when it
    matters (a part bought once each by thousands of one-off buyers
    outranks on counts; HITS demotes it). The graph-kernel family's
    BIPARTITE member next to PageRank (directed), CC (undirected), and
    label propagation (communities). Output: the top-15 authorities
    with brand and integer-permille score.

    Determinism: both engines run exactly _HITS_ITERS (2) full
    iterations with EXACT decimal integer sums and a single permille
    normalization at the end — no per-round float normalization to
    drift (scores grow ~deg^(2k), far inside decimal38 here; the
    per-round integer renorm is the documented production variant).

    Plan: one distinct edge derivation (orderkey equi-join, then a
    (c,p) distinct — both linear shuffles), then per half-iteration
    ONE co-keyed join + map-combined aggregate over the edge table
    (the PageRank loop shape; the edge table is localCheckpoint'd so
    all four half-rounds reuse one materialization), a 1-row max
    scalar, and a TakeOrdered cut joined onto the size-gated
    broadcast of the part dimension (fact-scaled — the
    broadcast_if_small policy)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)  # 4 half-rounds read it
    )
    dec = "decimal(38,0)"
    a = e.select("p").distinct().select(
        "p", F.lit(1000).cast(dec).alias("a")
    )
    for _ in range(_HITS_ITERS):
        h = (
            e.join(a, "p")
            .groupBy("c")
            .agg(F.sum("a").alias("h"))
        )
        a = (
            e.join(h, "c")
            .groupBy("p")
            .agg(F.sum("h").alias("a"))
        )
    mx = a.agg(F.max("a").alias("m"))
    ranked = (
        a.crossJoin(F.broadcast(mx))
        .select(
            "p",
            F.expr("(a * 1000) div m").cast("long").alias(
                "auth_permille"
            ),
            F.col("a"),
        )
        .orderBy(F.desc("a"), F.asc("p"))
        .limit(_HITS_TOPK)
    )
    w = Window.orderBy(F.desc("a"), F.asc("p"))
    part_dim = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("p"), F.col("p_brand").alias("brand")
    )
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .join(broadcast_if_small(part_dim, sf_dir, "part"), "p")
        .select(
            F.col("rank").cast("long").alias("rank"),
            F.col("p").alias("part_key"),
            "brand",
            "auth_permille",
        )
    )


# ---------------------------------------------------------------------------
# q_agg_hll_merge — sketch MERGEABILITY: per-half HLLs → union by register max
# ---------------------------------------------------------------------------

# shared estimator epilogue (identical text both engines): E from
# (r_max, v_zero, s_all) with the linear-counting branch
_SQL_HLL_EST = """
    CASE WHEN ((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
               * CAST(1::BIGINT << CAST({r} AS INT) AS DOUBLE)
               / CAST({s} AS DOUBLE)) <= 640.0
          AND {v} > 0
         THEN round(256.0 * ln(256.0 / {v}), 6)
         ELSE round((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                    * CAST(1::BIGINT << CAST({r} AS INT) AS DOUBLE)
                    / CAST({s} AS DOUBLE), 6) END
"""


@register(
    "q_agg_hll_merge",
    oracle=f"""
    WITH h AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01',
                  CAST(ts AS TIMESTAMP)::DATE) AS BIGINT) % 2 AS half,
             CAST(('0x' || substr({_HLL_H}, 1, 2)) AS BIGINT) AS idx,
             CAST(('0x' || substr({_HLL_H}, 3, 13)) AS BIGINT) AS w
      FROM events
    ),
    regs AS (
      SELECT half, idx,
             max(CASE WHEN w = 0 THEN 53
                      ELSE 53 - length(bin(w)) END) AS reg
      FROM h GROUP BY 1, 2
    ),
    merged AS (
      SELECT idx, max(reg) AS reg FROM regs GROUP BY 1
    ),
    sk AS (
      SELECT CAST(half AS VARCHAR) AS sketch, idx, reg FROM regs
      UNION ALL
      SELECT 'union', idx, reg FROM merged
    ),
    t AS (
      SELECT sketch, max(reg) AS r_max, count(*) AS n_present
      FROM sk GROUP BY 1
    ),
    s AS (
      SELECT sk.sketch, t.r_max, 256 - t.n_present AS v_zero,
             CAST(SUM(1::BIGINT << CAST(t.r_max - sk.reg AS INT))
                  + (256 - t.n_present)
                  * (1::BIGINT << CAST(t.r_max AS INT)) AS BIGINT)
               AS s_all
      FROM sk JOIN t USING (sketch)
      GROUP BY 1, 2, 3
    ),
    est AS (
      SELECT sketch,
             {_SQL_HLL_EST.format(r="r_max", s="s_all", v="v_zero")}
               AS e
      FROM s
    ),
    ex AS (
      SELECT CAST(count(DISTINCT CASE WHEN half = 0 THEN user_id END)
                  AS BIGINT) AS exact_h0,
             CAST(count(DISTINCT CASE WHEN half = 1 THEN user_id END)
                  AS BIGINT) AS exact_h1,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_union
      FROM (SELECT user_id,
                   CAST(date_diff('day', DATE '1970-01-01',
                        CAST(ts AS TIMESTAMP)::DATE) AS BIGINT) % 2
                     AS half
            FROM events)
    )
    SELECT e0.e AS est_h0, e1.e AS est_h1, eu.e AS est_union,
           round(e0.e + e1.e - eu.e, 6) AS est_intersection,
           ex.exact_h0, ex.exact_h1, ex.exact_union
    FROM (SELECT e FROM est WHERE sketch = '0') e0
    CROSS JOIN (SELECT e FROM est WHERE sketch = '1') e1
    CROSS JOIN (SELECT e FROM est WHERE sketch = 'union') eu
    CROSS JOIN ex
    """,
)
def q_agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY — the property that makes HLL the
    distributed cardinality tool: the register tables of two disjoint
    corpus partitions (odd/even epoch days here) merge by REGISTER
    MAX into exactly the sketch of their union, with no rescan of
    either side — how a 100 TB lakehouse maintains per-partition
    sketches and answers cross-partition distincts from metadata
    alone. Output: both half estimates, the merged-union estimate,
    the inclusion-exclusion intersection estimate, and the exact
    counterparts for audit — all cross-engine deterministic via the
    q_agg_hll_parity construction (md5 hash, integer harmonic sums,
    shared estimator text).

    Plan (r10 one-pass rewrite, VERDICT r9 #5): the corpus is scanned
    ONCE into the distinct ``(half, user_id)`` pair table (one
    map-combined shuffle, |users per half| rows), and BOTH the
    register build and the exact audit derive from that pair table —
    the r9 shape rescanned the corpus a second time through a
    3-way-Expand multi-countDistinct for the audit. md5 now hashes
    |distinct pairs| values instead of |corpus| rows, and the exact
    per-half counts are plain conditional sums over already-distinct
    pairs (null-guarded to match count(DISTINCT CASE ...)'s NULL
    skip). A/B at sf1: 0.324 s vs 0.361 s warm min and visibly lower
    variance (BENCH_NOTES r10); registers, merge, and estimator
    evaluations stay register-/scalar-sized."""
    pairs = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            (
                F.datediff(
                    F.to_date("ts"), F.lit("1970-01-01").cast("date")
                )
                % 2
            ).alias("half"),
        )
        .groupBy("half", "user_id")
        .agg(F.lit(1).alias("_one"))
        .localCheckpoint(eager=False)  # registers + exact audit reuse
    )
    hx = F.md5(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    idx = F.conv(F.substring(hx, 1, 2), 16, 10).cast("bigint")
    w = F.conv(F.substring(hx, 3, 13), 16, 10).cast("bigint")
    rho = F.when(w == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(w))
    )
    regs = (
        pairs.select("half", idx.alias("idx"), rho.alias("reg"))
        .groupBy("half", "idx")
        .agg(F.max("reg").alias("reg"))
        .localCheckpoint(eager=False)  # halves + merged reuse
    )
    merged = regs.groupBy("idx").agg(F.max("reg").alias("reg"))
    sk = regs.select(
        F.col("half").cast("string").alias("sketch"), "idx", "reg"
    ).unionAll(merged.select(F.lit("union").alias("sketch"), "idx", "reg"))
    t = sk.groupBy("sketch").agg(
        F.max("reg").alias("r_max"), F.count(F.lit(1)).alias("n_present")
    )
    s = (
        sk.join(F.broadcast(t), "sketch")
        .groupBy("sketch", "r_max", F.expr("256 - n_present").alias("v_zero"))
        .agg(
            (
                F.sum(
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT),"
                        " CAST(r_max - reg AS INT))"
                    )
                )
                + F.expr(
                    "(256 - n_present)"
                    " * shiftleft(CAST(1 AS BIGINT), CAST(r_max AS INT))"
                )
            ).alias("s_all")
        )
    )
    pow2r = F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(r_max AS INT)) AS DOUBLE)"
    )
    e_raw = (
        F.lit(0.7213 / (1.0 + 1.079 / 256.0))
        * F.lit(65536.0)
        * pow2r
        / F.col("s_all").cast("double")
    )
    est = s.select(
        "sketch",
        F.when(
            (e_raw <= 640.0) & (F.col("v_zero") > 0),
            F.round(F.lit(256.0) * F.log(F.lit(256.0) / F.col("v_zero")), 6),
        )
        .otherwise(F.round(e_raw, 6))
        .alias("e"),
    ).localCheckpoint(eager=False)  # 3 rows; read thrice below
    # pairs are already distinct, so the per-half exacts are plain
    # conditional SUMs; the isNotNull guard reproduces the oracle's
    # count(DISTINCT CASE ...) skipping NULL user_ids
    ex = pairs.agg(
        F.sum(
            F.when(
                (F.col("half") == 0) & F.col("user_id").isNotNull(), 1
            ).otherwise(0)
        ).cast("long").alias("exact_h0"),
        F.sum(
            F.when(
                (F.col("half") == 1) & F.col("user_id").isNotNull(), 1
            ).otherwise(0)
        ).cast("long").alias("exact_h1"),
        F.countDistinct("user_id").cast("long").alias("exact_union"),
    )
    e0 = est.filter(F.col("sketch") == "0").select(
        F.col("e").alias("est_h0")
    )
    e1 = est.filter(F.col("sketch") == "1").select(
        F.col("e").alias("est_h1")
    )
    eu = est.filter(F.col("sketch") == "union").select(
        F.col("e").alias("est_union")
    )
    return (
        e0.crossJoin(F.broadcast(e1))
        .crossJoin(F.broadcast(eu))
        .crossJoin(F.broadcast(ex))
        .select(
            "est_h0",
            "est_h1",
            "est_union",
            F.round(
                F.col("est_h0") + F.col("est_h1") - F.col("est_union"), 6
            ).alias("est_intersection"),
            "exact_h0",
            "exact_h1",
            "exact_union",
        )
    )


# ---------------------------------------------------------------------------
# q_events_growth_accounting — new / retained / resurrected / churned
# ---------------------------------------------------------------------------


@register(
    "q_events_growth_accounting",
    oracle="""
    WITH d0 AS (
      SELECT min(CAST(ts AS TIMESTAMP)::DATE) AS d0 FROM events
    ),
    uw AS MATERIALIZED (
      SELECT DISTINCT user_id,
             CAST(date_diff('day', d0.d0,
                  CAST(ts AS TIMESTAMP)::DATE) AS BIGINT) // 7 AS wk
      FROM events CROSS JOIN d0
    ),
    lagged AS (
      SELECT user_id, wk,
             lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
      FROM uw
    ),
    maxw AS (SELECT max(wk) AS mw FROM uw),
    states AS (
      SELECT wk,
             SUM(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END) AS n_new,
             SUM(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END)
               AS n_retained,
             SUM(CASE WHEN prev_wk IS NOT NULL AND prev_wk < wk - 1
                      THEN 1 ELSE 0 END) AS n_resurrected
      FROM lagged GROUP BY wk
    ),
    churn AS (
      SELECT l.wk + 1 AS wk, count(*) AS n_churned
      FROM lagged l CROSS JOIN maxw
      WHERE (l.next_wk IS NULL OR l.next_wk > l.wk + 1)
        AND l.wk + 1 <= maxw.mw
      GROUP BY 1
    )
    SELECT s.wk AS week,
           CAST(s.n_new AS BIGINT) AS n_new,
           CAST(s.n_retained AS BIGINT) AS n_retained,
           CAST(s.n_resurrected AS BIGINT) AS n_resurrected,
           CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned,
           CASE WHEN coalesce(c.n_churned, 0) = 0 THEN NULL
                ELSE CAST((s.n_new + s.n_resurrected) * 1000
                          // c.n_churned AS BIGINT)
           END AS quick_ratio_permille
    FROM states s LEFT JOIN churn c ON c.wk = s.wk
    """,
)
def q_events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (the Social-Capital framework every weekly
    active-user report uses): per week, how many actives are NEW
    (first week ever), RETAINED (also active the prior week), or
    RESURRECTED (active before, but not last week) — plus CHURNED
    (active last week, gone this week) and the quick ratio
    (new+resurrected)/churned in integer permille. The full
    inflow/outflow decomposition behind q_events_new_returning's
    two-way split; NULL ratio when nothing churned.

    Plan: ONE distinct (user, week) projection (map-combined), one
    per-USER lag/lead window (partitioned, parallel — user count
    scales, weeks per user is calendar-bounded), then two
    |weeks|-row aggregates joined. Exact integers end to end; one
    1-row min-day scalar broadcast."""
    e = load(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.to_date("ts")).alias("d0"))
    uw = (
        e.crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            F.expr(
                "CAST(datediff(to_date(ts), d0) AS BIGINT) div 7"
            ).alias("wk"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("wk")
    lagged = uw.select(
        "user_id",
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
        F.lead("wk").over(w).alias("next_wk"),
    ).localCheckpoint(eager=False)  # states + churn + maxw reuse
    maxw = lagged.agg(F.max("wk").alias("mw"))
    states = lagged.groupBy("wk").agg(
        F.sum(F.col("prev_wk").isNull().cast("long")).alias("n_new"),
        # when/otherwise, not a bare comparison cast: a week where every
        # prev_wk is NULL (week 0) must sum to 0, not NULL — SQL CASE
        # semantics, matching the oracle
        F.sum(
            F.when(F.col("prev_wk") == F.col("wk") - 1, 1).otherwise(0)
        ).alias("n_retained"),
        F.sum(
            (
                F.col("prev_wk").isNotNull()
                & (F.col("prev_wk") < F.col("wk") - 1)
            ).cast("long")
        ).alias("n_resurrected"),
    )
    churn = (
        lagged.crossJoin(F.broadcast(maxw))
        .filter(
            (F.col("next_wk").isNull() | (F.col("next_wk") > F.col("wk") + 1))
            & (F.col("wk") + 1 <= F.col("mw"))
        )
        .groupBy((F.col("wk") + 1).alias("wk"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        states.join(churn, "wk", "left")
        .select(
            F.col("wk").alias("week"),
            F.col("n_new").cast("long").alias("n_new"),
            F.col("n_retained").cast("long").alias("n_retained"),
            F.col("n_resurrected").cast("long").alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0))
            .cast("long")
            .alias("n_churned"),
            F.when(
                F.coalesce("n_churned", F.lit(0)) == 0, F.lit(None)
            )
            .otherwise(
                F.expr(
                    "(n_new + n_resurrected) * 1000 div n_churned"
                )
            )
            .cast("long")
            .alias("quick_ratio_permille"),
        )
    )


# ---------------------------------------------------------------------------
# q_events_rolling_wau — exact 7-day rolling distinct active users
# ---------------------------------------------------------------------------


@register(
    "q_events_rolling_wau",
    oracle="""
    WITH d0 AS (
      SELECT min(CAST(ts AS TIMESTAMP)::DATE) AS d0 FROM events
    ),
    ud AS MATERIALIZED (
      SELECT DISTINCT user_id,
             CAST(date_diff('day', d0.d0,
                  CAST(ts AS TIMESTAMP)::DATE) AS BIGINT) AS t
      FROM events CROSS JOIN d0
    ),
    mx AS (SELECT max(t) AS mt FROM ud),
    win AS (
      SELECT DISTINCT ud.user_id, ud.t + k.k AS target
      FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS k) k
    ),
    wau AS (
      SELECT target, count(*) AS wau
      FROM win CROSS JOIN mx
      WHERE target BETWEEN 6 AND mx.mt
      GROUP BY target
    ),
    dau AS (SELECT t, count(*) AS dau FROM ud GROUP BY t)
    SELECT wau.target AS day_index,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(dau.dau * 1000 // wau.wau AS BIGINT)
             AS stickiness_permille
    FROM wau JOIN dau ON dau.t = wau.target
    """,
)
def q_events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 7-day rolling distinct active users (rolling WAU) with
    daily stickiness (DAU/WAU) — the operator naive SQL gets wrong at
    scale because COUNT(DISTINCT) cannot slide (the window-frame form
    would hold per-day user SETS in state).

    r10 interval-delta rewrite: a user active on day t covers targets
    [t, t+6], so each user's active days MERGE into coverage
    intervals (lag/lead over the per-user sorted days: a start where
    the previous active day is >6 back, an end where the next is >6
    ahead), every interval emits +1 at its start day and −1 at
    end+7, and a running sum over the bounded DAY SPINE reads WAU
    off the deltas. The r9 shape exploded every (user, day) into its
    7 member windows and re-distinct'd: ×7 corpus-scale volume plus a
    second hash distinct. This shape moves |user-days| ONCE through
    the user-keyed window exchange and its volume is INDEPENDENT of
    window length — 28-day MAU costs the same (the old shape paid
    ×28), which is the property that matters at 100 TB; swap in the
    q_agg_hll_parity registers when ±1% suffices. A/B at sf1, probes
    green: 0.84 s vs 0.83 s — a wall tie bought with 7× less shuffle
    volume. Full windows only (day index ≥ 6); monthly-grain
    companion q_events_dau_mau.

    Plan: one (user, day) distinct (map-combined), one user-keyed
    window pass, ≤2·|user-days| delta rows to a |days| aggregate, a
    running sum over the |days|-row spine (bounded — a calendar, not
    data), one |days|-row join; one 1-row scalar each end."""
    e = load(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.to_date("ts")).alias("d0"))
    ud = (
        e.crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), "d0").cast("long").alias("t"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # intervals + dau + max reuse
    )
    mx = ud.agg(F.max("t").alias("mt"))
    w = Window.partitionBy("user_id").orderBy("t")
    iv = ud.select(
        "t",
        (
            F.lag("t").over(w).isNull()
            | (F.col("t") - F.lag("t").over(w) > 6)
        ).alias("is_start"),
        (
            F.lead("t").over(w).isNull()
            | (F.lead("t").over(w) - F.col("t") > 6)
        ).alias("is_end"),
    )
    deltas = (
        iv.filter("is_start")
        .select(F.col("t").alias("day"), F.lit(1).alias("d"))
        .unionAll(
            iv.filter("is_end").select(
                (F.col("t") + 7).alias("day"), F.lit(-1).alias("d")
            )
        )
        .groupBy("day")
        .agg(F.sum("d").alias("d"))
    )
    spine = mx.select(
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("mt"))
        ).alias("target"),
        "mt",
    )
    wcum = Window.orderBy("target").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wau = (
        spine.join(deltas, spine["target"] == deltas["day"], "left")
        .select("target", "mt", F.coalesce("d", F.lit(0)).alias("d"))
        .select("target", "mt", F.sum("d").over(wcum).alias("wau"))
        .filter((F.col("target") >= 6) & (F.col("target") <= F.col("mt")))
    )
    dau = ud.groupBy("t").agg(F.count(F.lit(1)).alias("dau"))
    return wau.join(dau, wau["target"] == dau["t"]).select(
        F.col("target").alias("day_index"),
        F.col("dau").cast("long").alias("dau"),
        F.col("wau").cast("long").alias("wau"),
        F.expr("dau * 1000 div wau").cast("long").alias(
            "stickiness_permille"
        ),
    )


# ---------------------------------------------------------------------------
# q_supplier_scorecard — composite weighted ranking without a global window
# ---------------------------------------------------------------------------


@register(
    "q_supplier_scorecard",
    oracle="""
    WITH m AS MATERIALIZED (
      SELECT l_suppkey AS suppkey,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS revenue_cents,
             CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
             CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS qty_cents
      FROM lineitem GROUP BY 1
    ),
    r AS (
      SELECT suppkey, revenue_cents, n_parts, qty_cents,
             row_number() OVER (ORDER BY revenue_cents DESC, suppkey)
               AS r_rev,
             row_number() OVER (ORDER BY n_parts DESC, suppkey)
               AS r_breadth,
             row_number() OVER (ORDER BY qty_cents DESC, suppkey)
               AS r_vol
      FROM m
    )
    SELECT r.suppkey AS supp_key, s.s_name AS supplier,
           n.n_name AS nation,
           r.revenue_cents, r.n_parts, r.qty_cents,
           CAST(50 * r.r_rev + 30 * r.r_breadth + 20 * r.r_vol
                AS BIGINT) AS score_points
    FROM r
    JOIN supplier s ON s.s_suppkey = r.suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    ORDER BY score_points ASC, r.suppkey LIMIT 20
    """,
)
def q_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite supplier scorecard: revenue, part breadth, and volume
    each rank-normalized, then blended 50/30/20 into one score (lower
    = better), top-20 with the supplier dimension attached — the
    standard multi-metric vendor/partner league table, built WITHOUT
    a global window: each metric's rank comes from
    `scale.ranked_by_range` (r12 sampler-free layout: literal
    percentile bounds per tag → placement shuffle → local numbering →
    LITERAL prefix offsets), so the plan that's trivial at 10k
    suppliers is the same plan that survives 100M. Rank points are
    pure integers (rank blending beats z-score blending for
    determinism AND robustness to heavy-tailed metrics).

    Plan: one map-combined lineitem aggregate to the supplier spine
    (the only corpus-sized work; distinct-part counts combine
    map-side), then ONE range-partitioned ranking of the tagged
    3×|suppliers| metric stack — built by ``explode(array(struct))``,
    a projection, so the spine is read ONCE (the r6 shape union'd
    three selects of it). Because every tag slice is the spine
    row-for-row, the per-metric rebase is pure arithmetic — ``r_metric
    = grk − tag·|spine|`` with a 1-row broadcast of |spine| — and the
    metric VALUES ride the stack through the rank pass, so one
    suppkey hash-aggregate pivots score AND the three metrics back to
    one row per supplier with no join back to the spine at all (the
    r11 stacked-pivot device, shared with q_events_rfm /
    q_customer_migration). Two broadcast dimension joins, one
    TakeOrdered cut. History: three ranked_by_range passes + three
    spine joins 4.5 s sf1 (r6) → tagged-union single ranking + spine
    join-back 2.7 s (r7) → explode-stack + value-carrying pivot
    A/B r11 sf0.1 2.80→2.23 s, sf1 2.69→2.54 s, identical rows →
    r12 sampler-free layout + |spine| as a layout literal (the n1
    crossJoin broadcast is gone; jobs 15→11, wall tie at sf0.1 —
    tools/ab_rangehelpers.py)."""
    from streamclient_spark.scale import ranked_by_range

    li = load(spark, sf_dir, "lineitem")
    m = (
        li.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("revenue_cents"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.sum(
                F.round(F.col("l_quantity") * 100).cast("bigint")
            ).alias("qty_cents"),
        )
        .localCheckpoint(eager=False)  # layout probe + placement share it
    )
    stacked = m.select(
        "suppkey",
        F.explode(
            F.array(
                *(
                    F.struct(
                        F.lit(t).cast("long").alias("tag"),
                        F.col(c).cast("bigint").alias("v"),
                    )
                    for t, c in enumerate(
                        ("revenue_cents", "n_parts", "qty_cents")
                    )
                )
            )
        ).alias("s"),
    ).select("suppkey", "s.tag", "s.v")
    lay: dict = {}
    ranked = ranked_by_range(
        stacked,
        ["tag", F.desc("v"), F.asc("suppkey")],
        rank_col="grk",
        group_col="tag",
        layout=lay,
    )
    # every tag slice is the spine row-for-row; the layout's exact
    # per-group count IS |spine| (r12 — replaces the 1-row n1
    # crossJoin broadcast and its build job)
    n1 = F.lit(int(lay["groups"].get(0, (0, 0))[1]))
    agg = (
        ranked.groupBy("suppkey")
        .agg(
            # grk is 1-based over (tag, v desc, suppkey); slice sizes
            # are all exactly |spine|, so tag t's within-metric
            # row_number is grk − t·|spine|.
            F.sum(
                F.when(F.col("tag") == 0, 50 * F.col("grk"))
                .when(F.col("tag") == 1, 30 * (F.col("grk") - n1))
                .otherwise(20 * (F.col("grk") - 2 * n1))
            )
            .cast("long")
            .alias("score_points"),
            F.max(F.when(F.col("tag") == 0, F.col("v")))
            .cast("long")
            .alias("revenue_cents"),
            F.max(F.when(F.col("tag") == 1, F.col("v")))
            .cast("long")
            .alias("n_parts"),
            F.max(F.when(F.col("tag") == 2, F.col("v")))
            .cast("long")
            .alias("qty_cents"),
        )
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"),
        F.col("s_name").alias("supplier"),
        "s_nationkey",
    )
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("nation"),
    )
    return (
        agg.join(F.broadcast(s), "suppkey")
        .join(F.broadcast(n), "s_nationkey")
        .select(
            F.col("suppkey").alias("supp_key"),
            "supplier",
            "nation",
            "revenue_cents",
            "n_parts",
            "qty_cents",
            "score_points",
        )
        .orderBy(F.asc("score_points"), F.asc("supp_key"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q_dq_fd_audit — functional-dependency validation across declared candidates
# ---------------------------------------------------------------------------

#: candidate FDs to audit: (label, table, lhs, rhs). Mix of holding
#: (keys) and violated dependencies — an audit must prove both
#: directions, not assume.
_FD_CANDIDATES = (
    ("part.p_partkey->p_brand", "part", "p_partkey", "p_brand"),
    ("part.p_brand->p_type", "part", "p_brand", "p_type"),
    ("orders.o_orderkey->o_orderstatus", "orders", "o_orderkey",
     "o_orderstatus"),
    ("lineitem.l_orderkey->l_suppkey", "lineitem", "l_orderkey",
     "l_suppkey"),
    ("events.user_id->event_type", "events", "user_id", "event_type"),
)


def _audit_scan(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """One scan per table per session for the DQ audit family
    (VERDICT r5 #4: the FD and uniqueness audits each re-scanned the
    same base tables). The projection is the UNION of the columns the
    two audits declare — derived from their specs so it cannot drift —
    and keyed-persisted, so whichever audit runs first materializes it
    and the other rides the in-memory columnar copy. Corpus-
    proportional but column-pruned to 1-3 key/attribute columns per
    table (the texttf/copurchase keyed-index precedent), never row
    payloads. q_dq_referential deliberately does NOT ride this cache:
    its tagged-union plan is already one scan per table and its resid-
    ual gap is the exchange, not the scan (VERDICT r5 #3, diminishing
    returns — re-routing it would burn a re-attestation slot for no
    measured win)."""
    from collections import defaultdict

    from streamclient_spark.cacheutil import managed_persist

    need: dict[str, set] = defaultdict(set)
    for _, t, lhs, rhs in _FD_CANDIDATES:
        need[t] |= {lhs, rhs}
    for t, cols in _UNIQ_KEYS:
        need[t] |= set(cols)
    return managed_persist(
        load(spark, sf_dir, table).select(*sorted(need[table])),
        key=f"auditscan:{sf_dir}:{table}",
    )


def _audit_view(spark: SparkSession, sf_dir: str, table: str) -> str:
    """Temp-view name for the audit family's shared keyed-persisted
    scan, so the SQL-string builders (r12: the q_dq_completeness
    build-time device applied to the FD/uniqueness audits) reference
    the SAME cached frame `_audit_scan` returns — the shared-scan
    cache survives the SQL conversion (VERDICT r11 #1). The memo is
    keyed on the frame object itself, not the sf_dir: if the keyed
    cache is rebuilt (release_all + re-entry, or a different sf_dir),
    the view is re-registered to the fresh frame; re-registering the
    same frame is skipped (a createOrReplaceTempView Py4J round-trip
    per call is exactly the overhead class this device deletes)."""
    name = f"__audit_{table}"
    frame = _audit_scan(spark, sf_dir, table)
    memo = getattr(spark, "_streamclient_audit_views", None)
    if memo is None:
        memo = {}
        spark._streamclient_audit_views = memo
    if memo.get(name) is not frame:
        frame.createOrReplaceTempView(name)
        memo[name] = frame
    return name


def _sql_fd(label: str, table: str, lhs: str, rhs: str) -> str:
    return f"""
    SELECT '{label}' AS fd,
           CAST(count(*) AS BIGINT) AS n_lhs,
           CAST(SUM(CASE WHEN v > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(max(v) AS BIGINT) AS max_rhs_variants,
           (SUM(CASE WHEN v > 1 THEN 1 ELSE 0 END) = 0) AS holds,
           CAST(SUM(CASE WHEN v > 1 THEN 1 ELSE 0 END) * 1000
                // count(*) AS BIGINT) AS violation_permille
    FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS v
          FROM {table} GROUP BY 1)
    """


@register(
    "q_dq_fd_audit",
    oracle=" UNION ALL ".join(_sql_fd(*c) for c in _FD_CANDIDATES),
)
def q_dq_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate FD (key
    constraints AND deliberately-violated dependencies — an audit
    proves both directions), the count of LHS values, how many map to
    more than one RHS value, the worst fan-out, a holds verdict, and
    the violation rate in integer permille. This is the profiling
    primitive behind schema normalization, candidate-key discovery,
    and "can I safely denormalize this column" decisions — the
    constraint companion of q_dq_referential (FK edges) and
    q_dq_constraints (row predicates).

    Fused like its two audit siblings (the r5 shape ran one aggregate
    pair PER FD — ~15 stages, most of its 2.8 s at sf1, measured 4.0 s
    cold on the round-6 box vs 1.6 s for this shape): every table
    contributes tagged (fd, lhs, rhs) rows — lhs/rhs each carried in
    a TYPED (long, string) column pair, never string-cast (casting
    6M bigint keys to strings was measured +0.5 s of pure allocation)
    — and a table carrying several FDs explodes them out of ONE
    shared audit scan (see :func:`_audit_scan`). A single
    map-side-combined ``groupBy(fd, lhs) → countDistinct`` then
    resolves every candidate at once (the distinct partial-aggregates
    on (fd, lhs, rhs) map-side) and the per-FD summary rollup is
    |FDs| groups. NULL semantics mirror the oracle with no sentinels:
    the lhs pair groups NULLs together per fd exactly like a
    single-column GROUP BY (the unused slot is constant-NULL within
    an fd), and the rhs rides a struct that is NULL-guarded on the
    underlying column, so count(DISTINCT) skips true NULL rhs on both
    engines — the guard matters because count(DISTINCT a, b) would
    otherwise skip EVERY row (one slot is always NULL). One linear
    shuffle total at any scale.

    r12 (guide §7.3 — driver-side plan construction as the wall, the
    q_dq_completeness SQL-string device): the SAME plan is now emitted
    as ONE ``spark.sql`` string over the audit family's shared-scan
    temp views (:func:`_audit_view` — the keyed `_audit_scan` cache
    survives the conversion, VERDICT r11 #1); ``explode(struct)``
    becomes its SQL spelling ``inline(named_struct)``, operators and
    results unchanged (oracle-verified ×3 SFs)."""
    from collections import defaultdict

    by_table: dict[str, list] = defaultdict(list)
    labels = []
    for i, (label, table, lhs, rhs) in enumerate(_FD_CANDIDATES):
        by_table[table].append((i, lhs, rhs))
        labels.append(label)

    def _typed(col: str, dtypes: dict) -> tuple:
        if dtypes[col] == "string":
            return "CAST(NULL AS BIGINT)", col
        # The long cast is only lossless for integral inputs; a future
        # decimal/date/double candidate would silently merge distinct
        # values through truncation and corrupt the distinct counts.
        # Guard like the uniqueness audit's arity assert.
        if dtypes[col] not in ("tinyint", "smallint", "int", "bigint"):
            # TypeError (not assert) so the guard survives ``python -O``:
            # it protects data correctness, not just invariants.
            raise TypeError(
                f"q_dq_fd_audit: column {col!r} has non-integral dtype "
                f"{dtypes[col]!r}; the typed-pair encoding only supports "
                "string and integral FD columns — widen the pair instead "
                "of casting"
            )
        return f"CAST({col} AS BIGINT)", "CAST(NULL AS STRING)"

    parts = []
    for table, fds in by_table.items():
        view = _audit_view(spark, sf_dir, table)
        dt = dict(_audit_scan(spark, sf_dir, table).dtypes)
        tagged = []
        for i, lhs, rhs in fds:
            ll, ls = _typed(lhs, dt)
            rl, rs = _typed(rhs, dt)
            tagged.append(
                f"named_struct('e', {i}, 'll', {ll}, 'ls', {ls}, 'r', "
                f"CASE WHEN {rhs} IS NOT NULL THEN "
                f"named_struct('rl', {rl}, 'rs', {rs}) END)"
            )
        if len(tagged) > 1:
            parts.append(
                f"SELECT inline(array({', '.join(tagged)})) FROM {view}"
            )
        else:
            i, lhs, rhs = fds[0]
            ll, ls = _typed(lhs, dt)
            rl, rs = _typed(rhs, dt)
            parts.append(
                f"SELECT {i} AS e, {ll} AS ll, {ls} AS ls, "
                f"CASE WHEN {rhs} IS NOT NULL THEN "
                f"named_struct('rl', {rl}, 'rs', {rs}) END AS r "
                f"FROM {view}"
            )
    labels_sql = ", ".join(f"'{x}'" for x in labels)
    return spark.sql(
        f"""
SELECT element_at(array({labels_sql}), e + 1) AS fd,
       n_lhs,
       CAST(n_violating AS BIGINT) AS n_violating,
       max_rhs_variants,
       (n_violating = 0) AS holds,
       CAST(n_violating * 1000 div n_lhs AS BIGINT) AS violation_permille
FROM (SELECT e, CAST(count(1) AS BIGINT) AS n_lhs,
             sum(CAST(v > 1 AS BIGINT)) AS n_violating,
             CAST(max(v) AS BIGINT) AS max_rhs_variants
      FROM (SELECT e, ll, ls, count(DISTINCT r) AS v
            FROM ({' UNION ALL '.join(parts)})
            GROUP BY e, ll, ls)
      GROUP BY e)
"""
    )


# ---------------------------------------------------------------------------
# q_part_abc_xyz — inventory classification: ABC (value) × XYZ (variability)
# ---------------------------------------------------------------------------


@register(
    "q_part_abc_xyz",
    oracle="""
    WITH li AS MATERIALIZED (
      SELECT l_partkey AS partkey,
             CAST(date_diff('day', DATE '1970-01-01',
                  CAST(l_shipdate AS TIMESTAMP)::DATE) AS BIGINT) // 7
               AS wk,
             CAST(round(l_quantity * 100) AS BIGINT) AS qc,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS rc
      FROM lineitem
    ),
    span AS (
      SELECT max(wk) - min(wk) + 1 AS n_weeks FROM li
    ),
    wd AS (
      SELECT partkey, wk, CAST(SUM(qc) AS BIGINT) AS q
      FROM li GROUP BY 1, 2
    ),
    mom AS (
      SELECT partkey,
             CAST(SUM(q) AS BIGINT) AS sx,
             CAST(SUM(q * q) AS BIGINT) AS sxx
      FROM wd GROUP BY 1
    ),
    xyz AS (
      SELECT partkey,
             CASE WHEN 4 * (span.n_weeks * sxx - sx * sx) <= sx * sx
                  THEN 'X'
                  WHEN (span.n_weeks * sxx - sx * sx) <= sx * sx
                  THEN 'Y'
                  ELSE 'Z' END AS cls_xyz
      FROM mom CROSS JOIN span
    ),
    rev AS (
      SELECT partkey, CAST(SUM(rc) AS BIGINT) AS revenue
      FROM li GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(revenue) AS BIGINT) AS total FROM rev),
    abc AS (
      SELECT partkey,
             CASE WHEN cum * 10 <= tot.total * 8 THEN 'A'
                  WHEN cum * 100 <= tot.total * 95 THEN 'B'
                  ELSE 'C' END AS cls_abc,
             revenue
      FROM (
        SELECT partkey, revenue,
               SUM(revenue) OVER (ORDER BY revenue DESC, partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum
        FROM rev
      ) CROSS JOIN tot
    )
    SELECT abc.cls_abc, xyz.cls_xyz,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(SUM(abc.revenue) * 1000
                // (SELECT total FROM tot) AS BIGINT)
             AS revenue_share_permille
    FROM abc JOIN xyz USING (partkey)
    GROUP BY 1, 2
    """,
)
def q_part_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC×XYZ inventory classification — the operations-planning
    matrix every supply chain runs: parts classed by revenue
    concentration (A = first 80% of cumulative revenue, B = to 95%,
    C = tail) crossed with demand VARIABILITY over weekly buckets
    (X: CV ≤ 0.5, Y: ≤ 1.0, Z: above — zero-demand weeks inside the
    corpus span count, which is what makes intermittent demand land
    in Z). Both classifications are decided by INTEGER
    cross-multiplication: CV thresholds become 4·(W·Σq²−(Σq)²) ≤
    (Σq)² (population CV against the full W-week span, absent weeks
    contributing zero demand and zero square), and the ABC cuts
    become cum·10 ≤ total·8 — no float can flap a boundary part.

    Plan: ONE lineitem-scale exchange — the (partkey, wk) weekly
    aggregate — from which everything else is re-aggregation: the
    per-part CV moments AND revenue come out of one part-keyed
    aggregate over the weekly table (the q_events_dau_mau two-agg
    recipe; r5 shipped two independent lineitem exchanges off the
    same checkpoint, VERDICT r5 #2), the corpus week span is a 1-row
    broadcast off the same table, and the cumulative revenue share
    runs `scale.running_sum_by_range` over the parts spine (range
    partition + broadcast offsets — no global single-task sort, the
    q_pareto_abc lever) CARRYING the moments, so both classifications
    are column math on one frame and the former abc⋈xyz part-level
    join disappears."""
    from streamclient_spark.scale import running_sum_by_range

    wk_expr = (
        "CAST(datediff(to_date(l_shipdate), DATE '1970-01-01')"
        " AS BIGINT) div 7"
    )
    # hash(partkey) satisfies ClusteredDistribution for BOTH the
    # (partkey, wk) weekly aggregate and the per-part rollup, so the
    # whole moments chain runs off ONE fact-scale exchange (the
    # repartition). The fact-scale projection itself is NOT
    # checkpointed — materializing 4 columns of lineitem costs more
    # than the column-pruned re-scan it would save (measured at sf1),
    # and the span pass below prunes to the single l_shipdate column.
    pp = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("partkey"),
            F.expr(wk_expr).alias("wk"),
            F.round(F.col("l_quantity") * 100).cast("bigint").alias("qc"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("rc"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "partkey")
        .groupBy("partkey", "wk")
        .agg(F.sum("qc").alias("q"), F.sum("rc").alias("r"))
        .groupBy("partkey")
        .agg(
            F.sum("q").alias("sx"),
            F.sum(F.col("q") * F.col("q")).alias("sxx"),
            F.sum("r").alias("revenue"),
            # carried so the corpus week span is a 1-row re-aggregate
            # of THIS spine instead of a second lineitem scan (the
            # 1-column span pass still cost ~0.5 s at sf1)
            F.min("wk").alias("minwk"),
            F.max("wk").alias("maxwk"),
        )
        # parts-spine checkpoint (|parts| rows of integers): the range
        # sampler inside running_sum_by_range plus the total, the span
        # and the final pass would otherwise each re-run the
        # fact-scale chain
        .localCheckpoint(eager=False)
    )
    # floor(days/7) is monotone, so the corpus week span is exactly
    # the min/max of the per-part week extrema — and it rides the SAME
    # 1-row aggregate as the revenue total (r11: two separate
    # broadcast-build jobs, each a full |parts| pass over the
    # checkpoint, fused into one — A/B in tools/ab_abcxyz.py)
    consts = pp.agg(
        (F.max("maxwk") - F.min("minwk") + 1).alias("n_weeks"),
        F.sum("revenue").alias("total"),
    )
    cum = running_sum_by_range(
        pp,
        [F.desc("revenue"), F.asc("partkey")],
        "revenue",
        out_col="cum",
    )
    num = F.col("n_weeks") * F.col("sxx") - F.col("sx") * F.col("sx")
    classed = (
        cum.crossJoin(F.broadcast(consts))
        .select(
            "revenue",
            "total",
            F.when(F.col("cum") * 10 <= F.col("total") * 8, "A")
            .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
            .otherwise("C")
            .alias("cls_abc"),
            F.when(4 * num <= F.col("sx") * F.col("sx"), "X")
            .when(num <= F.col("sx") * F.col("sx"), "Y")
            .otherwise("Z")
            .alias("cls_xyz"),
        )
    )
    return (
        classed.groupBy("cls_abc", "cls_xyz", "total")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("revenue").alias("_rev"),
        )
        .select(
            "cls_abc",
            "cls_xyz",
            "n_parts",
            F.expr("_rev * 1000 div total")
            .cast("long")
            .alias("revenue_share_permille"),
        )
    )


# ---------------------------------------------------------------------------
# q_dq_uniqueness — candidate-key / primary-key duplicate audit (round 5)
# ---------------------------------------------------------------------------

#: candidate keys audited by q_dq_uniqueness: (table, key columns).
#: lineitem.l_orderkey and events.user_id are DELIBERATELY non-unique —
#: an audit reports, it does not assume (the q_dq_referential rule).
_UNIQ_KEYS = (
    ("orders", ("o_orderkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("lineitem", ("l_orderkey",)),
    ("customer", ("c_custkey",)),
    ("part", ("p_partkey",)),
    ("supplier", ("s_suppkey",)),
    ("events", ("event_id",)),
    ("events", ("user_id",)),
    ("documents", ("doc_id",)),
    ("embeddings", ("vec_id",)),
)


def _sql_uniq_key(table: str, cols: tuple) -> str:
    label = f"{table}({','.join(cols)})"
    return f"""
    SELECT '{label}' AS key_name,
           CAST(sum(c) AS BIGINT) AS n_rows,
           count(*) AS n_keys,
           count(*) FILTER (WHERE c > 1) AS n_dup_keys,
           CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS BIGINT)
             AS n_dup_rows
    FROM (SELECT count(*) AS c FROM {table} GROUP BY {', '.join(cols)})
    """


@register(
    "q_dq_uniqueness",
    oracle=" UNION ALL ".join(_sql_uniq_key(t, cs) for t, cs in _UNIQ_KEYS),
)
def q_dq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key uniqueness audit: for every declared key of the
    star schema (true PKs plus two deliberately-violated candidates),
    total rows, distinct key values, duplicated keys, and rows living
    under duplicated keys — the primary-key complement of
    q_dq_referential's FK pass, and the first check a lakehouse
    ingest runs before MERGE semantics can be trusted (a duplicate PK
    turns upsert into fan-out).

    Same fused shape as the FK audit: a table carrying several
    candidate keys (lineitem, events) explodes each row into its
    (key_id, k1, k2) tuples inside ONE scan — the key columns ride
    NATIVELY as a fixed-arity long pair (trailing slot constant-NULL
    for single-column keys; every declared key column is numeric),
    which groups rows EXACTLY like the oracle's multi-column GROUP BY
    including NULL components ((NULL, 5), (5, NULL) and (NULL, NULL)
    are three distinct groups on both engines, with no injectivity
    argument needed — this replaces the r5 \\x00-coalesced string
    fingerprint, which was both NULL-fragile by construction and
    measured ~0.5 s of pure string allocation at sf1) — and one
    map-side-combined ``groupBy(key_id, k1, k2)`` counts
    multiplicity; the per-key summary
    rollup is |keys| groups. At 100 TB each table costs one shuffle
    whose volume is its distinct-key count; duplicate skew collapses
    map-side (a hot key is one row per partition before the
    exchange); the scans ride the audit family's shared keyed cache
    (:func:`_audit_scan`), so the FD audit and this one pay each
    table's scan once per session between them.

    r12 (guide §7.3 — the q_dq_completeness SQL-string device): the
    SAME plan is now emitted as ONE ``spark.sql`` string over the
    shared-scan temp views (:func:`_audit_view`, keeping the keyed
    cache — VERDICT r11 #1); ``explode(struct)`` becomes
    ``inline(named_struct)``, operators and results unchanged
    (oracle-verified ×3 SFs)."""
    from collections import defaultdict

    by_table: dict[str, list] = defaultdict(list)
    labels = []
    for i, (table, cols) in enumerate(_UNIQ_KEYS):
        by_table[table].append((i, cols))
        labels.append(f"{table}({','.join(cols)})")

    parts = []
    for table, keys in by_table.items():
        if not all(len(cols) <= 2 for _, cols in keys):
            # ValueError (not assert) so the guard survives python -O:
            # a silently-dropped third key column would corrupt the
            # distinct counts (same class as the fd_audit dtype guard).
            raise ValueError(
                "fixed-arity key pair: widen k1/k2 before declaring a "
                "3-column candidate key"
            )
        view = _audit_view(spark, sf_dir, table)

        def _k(cols: tuple, slot: int) -> str:
            if slot < len(cols):
                return f"CAST({cols[slot]} AS BIGINT)"
            return "CAST(NULL AS BIGINT)"

        if len(keys) > 1:
            tagged = ", ".join(
                f"named_struct('e', {i}, 'k1', {_k(cols, 0)}, "
                f"'k2', {_k(cols, 1)})"
                for i, cols in keys
            )
            parts.append(f"SELECT inline(array({tagged})) FROM {view}")
        else:
            i, cols = keys[0]
            parts.append(
                f"SELECT {i} AS e, {_k(cols, 0)} AS k1, "
                f"{_k(cols, 1)} AS k2 FROM {view}"
            )
    labels_sql = ", ".join(f"'{x}'" for x in labels)
    return spark.sql(
        f"""
SELECT element_at(array({labels_sql}), e + 1) AS key_name,
       CAST(n_rows AS BIGINT) AS n_rows, n_keys, n_dup_keys,
       CAST(n_dup_rows AS BIGINT) AS n_dup_rows
FROM (SELECT e, sum(c) AS n_rows, count(1) AS n_keys,
             sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS n_dup_keys,
             sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS n_dup_rows
      FROM (SELECT e, k1, k2, count(1) AS c
            FROM ({' UNION ALL '.join(parts)})
            GROUP BY e, k1, k2)
      GROUP BY e)
"""
    )


# ---------------------------------------------------------------------------
# q_events_burst — per-user sliding-hour peak rate + burst flag (round 5)
# ---------------------------------------------------------------------------

#: trailing event-time frame (1 h in µs, closed) and the burst floor
_BURST_US = 3_599_999_999
_BURST_MIN = 3


@register(
    "q_events_burst",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ),
    w AS (
      SELECT user_id, us,
             count(*) OVER (PARTITION BY user_id ORDER BY us
                            RANGE BETWEEN {_BURST_US} PRECEDING
                            AND CURRENT ROW) AS c
      FROM e
    ),
    p AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             max(c) AS peak_1h
      FROM w GROUP BY user_id
    )
    SELECT w.user_id,
           any_value(p.n_events) AS n_events,
           any_value(p.peak_1h) AS peak_1h,
           min(w.us) AS peak_at_us,
           CAST(any_value(p.peak_1h) >= {_BURST_MIN} AS INT) AS is_burst
    FROM w JOIN p ON w.user_id = p.user_id AND w.c = p.peak_1h
    GROUP BY w.user_id
    """,
)
def q_events_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity burst detection: each user's PEAK trailing-1-hour
    event count, the (earliest) moment it occurred, and a burst flag —
    the per-entity rate-spike monitor behind abuse detection, crawler
    fingerprinting, and rate-limit tuning (q_ts_anomaly watches the
    GLOBAL series; bursts are per-entity by nature and invisible in
    the aggregate). RANGE frame over epoch-µs order, so equal
    timestamps enter the frame together and no tie-break is needed for
    the count; the peak instant takes min(ts) among peak-frame events
    — a total order, deterministic on both engines.

    One user-hash ride end to end: the sliding frame (single-pass
    moving aggregate, never re-scans), the per-user (count, max)
    rollup, the peak-row join back, and the final group all share the
    user_id hash — one exchange, then co-partitioned everything. At
    100 TB users are many and the hash is balanced; no global window,
    no skew beyond a single user's own history."""
    e = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us").rangeBetween(
        -_BURST_US, 0
    )
    c = e.select(
        "user_id", "us", F.count(F.lit(1)).over(w).alias("c")
    ).localCheckpoint(eager=False)  # feeds the peak rollup AND the probe
    p = c.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("c").alias("peak_1h"),
    )
    return (
        c.join(p, ["user_id"])
        .filter(F.col("c") == F.col("peak_1h"))
        .groupBy("user_id")
        .agg(
            F.first("n_events").alias("n_events"),
            F.first("peak_1h").alias("peak_1h"),
            F.min("us").alias("peak_at_us"),
            (F.first("peak_1h") >= _BURST_MIN)
            .cast("int")
            .alias("is_burst"),
        )
    )


# ---------------------------------------------------------------------------
# q_orders_backlog — sweep-line open-order backlog time series (C-246)
# ---------------------------------------------------------------------------


@register(
    "q_orders_backlog",
    oracle="""
    WITH ends AS (
      SELECT l_orderkey,
             CAST(max(CAST(l_shipdate AS TIMESTAMP)) AS DATE)
               AS last_ship
      FROM lineitem GROUP BY 1
    ),
    deltas AS (
      SELECT CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) AS day,
             1 AS d_in, 0 AS d_out
      FROM orders
      UNION ALL
      SELECT last_ship AS day, 0 AS d_in, 1 AS d_out FROM ends
    ),
    byday AS (
      SELECT day, CAST(sum(d_in) AS BIGINT) AS started,
             CAST(sum(d_out) AS BIGINT) AS shipped
      FROM deltas GROUP BY 1
    )
    SELECT CAST(day AS VARCHAR) AS day, started, shipped,
           CAST(sum(started - shipped)
                OVER (ORDER BY day) AS BIGINT) AS backlog
    FROM byday
    """,
)
def q_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog as a daily step function: for every day on
    which anything changed, how many orders entered the backlog
    (placed), how many left it (final line item shipped), and the
    running count still open — the WIP/lead-time monitor an
    operations dashboard plots. An order is "open" from its order
    date until the max ship date across its line items.

    This is the sweep-line decomposition of interval counting: instead
    of joining every order's [start, end) interval against a day spine
    (the O(|orders| × |days|) shape q_join_interval pays when the
    QUESTION is per-pair), each interval becomes two ±1 deltas and the
    answer is one running sum over the distinct delta days — the
    100 TB-correct plan for "how many intervals cover each instant":
    two map-combined scans and one calendar-bounded rollup do ALL the
    corpus-scale work. The running sum itself uses a plain global
    window ON PURPOSE, not ``scale.running_sum_by_range``: its input
    is ≤ |distinct days| rows — bounded by the CALENDAR, not the data
    (a century of any-volume traffic is ≤ 36.5k rows) — so the
    single-task window can never become the straggler the range
    decomposition exists to prevent (that helper is for running sums
    over DATA-scale spines: customers, parts). Day strings ship ISO
    per the q_islands rule."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    ends = li.groupBy("l_orderkey").agg(
        F.to_date(F.max("l_shipdate")).alias("day")
    )
    # the two delta streams roll up to calendar-bounded day tables
    # BEFORE they meet: a full-outer join of two ≤|days|-row tables
    # (BHJ can't do full-outer; the SMJ over 2×|days| rows is free)
    # replaces a corpus-sized union shuffle
    started = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("started")
    )
    shipped = ends.groupBy("day").agg(
        F.count(F.lit(1)).alias("shipped")
    )
    byday = (
        started.join(shipped, "day", "full_outer")
        .select(
            "day",
            F.coalesce("started", F.lit(0)).cast("long").alias("started"),
            F.coalesce("shipped", F.lit(0)).cast("long").alias("shipped"),
        )
    )
    run = byday.withColumn(
        "backlog",
        F.sum(F.col("started") - F.col("shipped")).over(
            Window.orderBy("day").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    return run.select(
        F.col("day").cast("string").alias("day"),
        "started",
        "shipped",
        F.col("backlog").cast("long").alias("backlog"),
    )


# ---------------------------------------------------------------------------
# q_dq_kanon — k-anonymity audit across generalization levels (C-247)
# ---------------------------------------------------------------------------

#: k-anonymity threshold: a quasi-identifier class smaller than this
#: re-identifies its members
_KANON_K = 5


@register(
    "q_dq_kanon",
    oracle=f"""
    WITH qi AS (
      SELECT 'L0:nation+segment+balband' AS level,
             concat_ws('|', c_nationkey, c_mktsegment,
                       CAST(round(c_acctbal * 100) AS BIGINT)
                         // 100000) AS qi_key
      FROM customer
      UNION ALL
      SELECT 'L1:nation+segment' AS level,
             concat_ws('|', c_nationkey, c_mktsegment) AS qi_key
      FROM customer
      UNION ALL
      SELECT 'L2:segment' AS level, c_mktsegment AS qi_key
      FROM customer
    ),
    cl AS (
      SELECT level, qi_key, count(*) AS c FROM qi GROUP BY 1, 2
    )
    SELECT level,
           count(*) AS n_classes,
           CAST(min(c) AS BIGINT) AS min_class,
           CAST(max(c) AS BIGINT) AS max_class,
           CAST(sum(CASE WHEN c < {_KANON_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS classes_below_k,
           CAST(sum(CASE WHEN c < {_KANON_K} THEN c ELSE 0 END)
                AS BIGINT) AS rows_below_k,
           CAST(sum(CASE WHEN c < {_KANON_K} THEN c ELSE 0 END)
                AS BIGINT) * 1000
             // CAST(sum(c) AS BIGINT) AS risk_permille
    FROM cl GROUP BY level
    """,
)
def q_dq_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: for each quasi-identifier generalization
    level (full granularity → drop the balance band → segment only),
    the equivalence-class profile and the share of rows sitting in
    classes smaller than k=5 — the privacy-governance gate next to
    the PII scrub (scrubbing direct identifiers is not enough: a rare
    nation×segment×balance combination re-identifies a customer with
    no name attached, and the generalization ladder shows how much
    coarsening buys the dataset back under the threshold). The
    balance band is integer cents // 100k so both engines cut bands
    identically (both truncate toward zero).

    Plan: ONE customer scan exploded into 3 tagged (level, qi_key)
    rows per customer (the q_dq_uniqueness fused-audit shape), one
    map-combined (level, key) count, and a ‖levels‖-row rollup — two
    linear shuffles total at any scale; all ratios are integer
    division on exact counts."""
    c = load(spark, sf_dir, "customer")
    band = F.expr(
        "CAST(round(c_acctbal * 100) AS BIGINT) div 100000"
    )
    qi = c.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("L0:nation+segment+balband").alias("level"),
                    F.concat_ws(
                        "|", "c_nationkey", "c_mktsegment", band
                    ).alias("qi_key"),
                ),
                F.struct(
                    F.lit("L1:nation+segment").alias("level"),
                    F.concat_ws(
                        "|", "c_nationkey", "c_mktsegment"
                    ).alias("qi_key"),
                ),
                F.struct(
                    F.lit("L2:segment").alias("level"),
                    F.col("c_mktsegment").alias("qi_key"),
                ),
            )
        ).alias("q")
    ).select("q.level", "q.qi_key")
    cl = qi.groupBy("level", "qi_key").agg(
        F.count(F.lit(1)).alias("c")
    )
    below = F.when(F.col("c") < _KANON_K, F.col("c")).otherwise(0)
    return (
        cl.groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.min("c").cast("long").alias("min_class"),
            F.max("c").cast("long").alias("max_class"),
            F.sum((F.col("c") < _KANON_K).cast("int"))
            .cast("long")
            .alias("classes_below_k"),
            F.sum(below).cast("long").alias("rows_below_k"),
            (
                F.sum(below).cast("long") * 1000
            ).alias("_rb1000"),
            F.sum("c").cast("long").alias("_tot"),
        )
        .select(
            "level",
            "n_classes",
            "min_class",
            "max_class",
            "classes_below_k",
            "rows_below_k",
            F.expr("_rb1000 div _tot").alias("risk_permille"),
        )
    )


# ---------------------------------------------------------------------------
# q_events_dow_hour_heat — weekly activity heat grid (C-249)
# ---------------------------------------------------------------------------


@register(
    "q_events_dow_hour_heat",
    oracle="""
    WITH g AS (
      SELECT isodow(CAST(ts AS TIMESTAMP)) - 1 AS dow_mon0,
             hour(CAST(ts AS TIMESTAMP)) AS hour,
             count(*) AS n_events,
             count(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1, 2
    )
    SELECT dow_mon0, hour, n_events, n_users,
           n_events * 1000
             // CAST(sum(n_events) OVER () AS BIGINT) AS share_permille
    FROM g
    """,
)
def q_events_dow_hour_heat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly activity heat grid: events and distinct users per
    (day-of-week × hour) cell plus each cell's integer-permille share
    of all traffic — the capacity-planning / anomaly-eyeballing
    staple every operations dashboard renders as a 7×24 heatmap
    (q_events_hourly_rollup gives the longitudinal series; this is
    the calendar-folded profile that shows weekend troughs and
    deploy-window load). Day-of-week is Monday=0 on both engines
    (Spark ``weekday``, DuckDB ``isodow − 1``) — never the
    locale-dependent ``dayofweek``.

    Plan: ONE map-combined grid aggregate (the grid is ≤ 168 cells at
    any corpus size; count-distinct users is the only real shuffle)
    and the share is a window over the 168-row result — calendar-
    bounded, so the partition-less window can never straggle (the
    q_orders_backlog doctrine). All ratios integer."""
    e = load(spark, sf_dir, "events")
    g = e.groupBy(
        F.expr("weekday(ts)").alias("dow_mon0"),
        F.hour("ts").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    return g.select(
        "dow_mon0",
        "hour",
        "n_events",
        "n_users",
        F.expr(
            "n_events * CAST(1000 AS BIGINT) div"
            " sum(n_events) OVER ()"
        ).alias("share_permille"),
    )


# ---------------------------------------------------------------------------
# q_supplier_hhi — market-concentration index per nation (C-250)
# ---------------------------------------------------------------------------


@register(
    "q_supplier_hhi",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey AS nationkey, l.l_suppkey,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    nat AS (
      SELECT nationkey,
             count(*) AS n_suppliers,
             CAST(sum(cents) AS BIGINT) AS total_cents,
             CAST(sum(CAST(cents AS HUGEINT) * cents)
                  AS HUGEINT) AS sq
      FROM rev GROUP BY 1
    )
    SELECT n.n_name AS nation, nat.n_suppliers, nat.total_cents,
           CAST((nat.sq * 10000)
                // (CAST(nat.total_cents AS HUGEINT)
                    * nat.total_cents) AS BIGINT) AS hhi_bp
    FROM nat JOIN nation n ON nat.nationkey = n.n_nationkey
    """,
)
def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of supplier revenue
    within each nation, in integer basis points (Σ shareᵢ² × 10⁴; the
    antitrust-style 'is this market one vendor in a trench coat?'
    metric — 10000 = monopoly, <1500 = competitive). The procurement
    risk view next to q_supplier_scorecard's league table and the
    concentration complement of q_agg_gini (Gini ranks inequality,
    HHI squares it so the top shares dominate). Exactness: HHI =
    (Σ cᵢ²·10⁴) / (Σ cᵢ)² over exact revenue cents — numerator and
    denominator are exact integers (decimal-38 accumulators; cᵢ² of a
    trillion-cent supplier needs 128 bits) and ONE floored division
    at the end, so no per-supplier share can round.

    Plan: one fact-table map-combined agg to (nation, supplier)
    grain, a ‖nations‖-row re-aggregate squaring in-stage, and a
    broadcast dim join — the same two-linear-shuffle shape at any
    scale. The supplier dim join is broadcast (it is dimension-sized
    by definition)."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    rev = (
        li.join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == s.s_suppkey,
        )
        .groupBy(
            F.col("s_nationkey").alias("nationkey"), "l_suppkey"
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    dec = "decimal(38,0)"
    nat = rev.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(F.col("cents").cast(dec) * F.col("cents")).alias("sq"),
    )
    return (
        nat.join(
            F.broadcast(n),
            nat.nationkey == n.n_nationkey,
        )
        .select(
            F.col("n_name").alias("nation"),
            "n_suppliers",
            "total_cents",
            F.expr(
                "CAST((sq * 10000) div"
                " (CAST(total_cents AS DECIMAL(38,0)) * total_cents)"
                " AS BIGINT)"
            ).alias("hhi_bp"),
        )
    )


# ---------------------------------------------------------------------------
# q_orders_aging — as-of open-order aging snapshot (C-251)
# ---------------------------------------------------------------------------

#: snapshot date for the aging report (mid-corpus; any as-of works)
_AGING_CUTOFF = "1998-01-01"


@register(
    "q_orders_aging",
    oracle=f"""
    WITH ends AS (
      SELECT l_orderkey,
             CAST(max(CAST(l_shipdate AS TIMESTAMP)) AS DATE)
               AS last_ship
      FROM lineitem GROUP BY 1
    ),
    open_orders AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', CAST(CAST(o.o_orderdate AS TIMESTAMP)
                                   AS DATE),
                       DATE '{_AGING_CUTOFF}') AS age_days,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN ends e ON o.o_orderkey = e.l_orderkey
      WHERE CAST(CAST(o.o_orderdate AS TIMESTAMP) AS DATE)
              <= DATE '{_AGING_CUTOFF}'
        AND e.last_ship > DATE '{_AGING_CUTOFF}'
    )
    SELECT CASE WHEN age_days <= 30 THEN '0-30'
                WHEN age_days <= 90 THEN '31-90'
                WHEN age_days <= 180 THEN '91-180'
                ELSE '180+' END AS age_bucket,
           priority,
           count(*) AS n_orders,
           CAST(max(age_days) AS BIGINT) AS oldest_days,
           CAST(sum(cents) AS BIGINT) AS open_value_cents
    FROM open_orders GROUP BY 1, 2
    """,
)
def q_orders_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of open-order aging: orders placed on or before the snapshot
    date but not fully shipped by it, bucketed by age × order
    priority with counts, the oldest age, and the open value in exact
    cents — the WIP drill-down a dashboard shows when
    q_orders_backlog's time series spikes (the series says HOW MANY
    are stuck; this says HOW OLD, HOW URGENT, and HOW MUCH money).

    Plan: the per-order last-ship aggregate (map-combined) meets the
    orders scan in ONE co-keyed orderkey join — on a cluster both
    sides hash-partition on the same key, so the join adds no extra
    exchange beyond the aggregate's own; the date predicates prune
    rows before the join (pushed to the orders scan) and the bucket
    rollup is ≤ buckets×priorities rows. Ages are integer day diffs
    against a literal date — nothing floats."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    cutoff = F.lit(_AGING_CUTOFF).cast("date")
    ends = li.groupBy("l_orderkey").agg(
        F.to_date(F.max("l_shipdate")).alias("last_ship")
    )
    open_o = (
        o.filter(F.to_date("o_orderdate") <= cutoff)
        .join(
            ends.filter(F.col("last_ship") > cutoff),
            o.o_orderkey == ends.l_orderkey,
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(cutoff, F.to_date("o_orderdate")).alias(
                "age_days"
            ),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 90, "31-90")
        .when(F.col("age_days") <= 180, "91-180")
        .otherwise("180+")
    )
    return open_o.groupBy(
        bucket.alias("age_bucket"), "priority"
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("age_days").cast("long").alias("oldest_days"),
        F.sum("cents").cast("long").alias("open_value_cents"),
    )


# ---------------------------------------------------------------------------
# q_orders_fill_rate — ship-SLA attainment by year and priority (C-252)
# ---------------------------------------------------------------------------

#: promised ship window in days after the order date
_SLA_DAYS = 30


@register(
    "q_orders_fill_rate",
    oracle=f"""
    SELECT year(CAST(o.o_orderdate AS TIMESTAMP)) AS year,
           o.o_orderpriority AS priority,
           count(*) AS n_items,
           CAST(sum(CASE WHEN date_diff('day',
                    CAST(CAST(o.o_orderdate AS TIMESTAMP) AS DATE),
                    CAST(CAST(l.l_shipdate AS TIMESTAMP) AS DATE))
                    <= {_SLA_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_on_time,
           CAST(sum(CASE WHEN date_diff('day',
                    CAST(CAST(o.o_orderdate AS TIMESTAMP) AS DATE),
                    CAST(CAST(l.l_shipdate AS TIMESTAMP) AS DATE))
                    <= {_SLA_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
             * 1000 // count(*) AS on_time_permille
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def q_orders_fill_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ship-SLA attainment: the share of line items shipped within 30
    days of their order date, by order year × priority, in floored
    integer permille — the fulfilment scorecard complementing
    q_lead_time (lead time shows the DISTRIBUTION of delays; this
    thresholds it into the attainment number an SLA contract and its
    trend review actually use, and the year×priority grid shows
    whether urgent orders really ship faster and whether performance
    is drifting across years).

    Plan: one co-keyed orderkey join (fact⋈fact on the key both sides
    hash-partition on — no extra exchange beyond the join's own) into
    a map-combined ≤ years×priorities rollup; the SLA predicate is an
    integer day diff, the rate an integer division — nothing can
    flap."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    j = li.select("l_orderkey", F.to_date("l_shipdate").alias("ship")).join(
        o.select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("odate"),
            F.col("o_orderpriority").alias("priority"),
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    on_time = (
        F.datediff("ship", "odate") <= _SLA_DAYS
    ).cast("int")
    return (
        j.groupBy(
            F.year("odate").alias("year"), "priority"
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(on_time).cast("long").alias("n_on_time"),
        )
        .select(
            "year",
            "priority",
            "n_items",
            "n_on_time",
            F.expr("n_on_time * 1000 div n_items").alias(
                "on_time_permille"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_part_price_index — fixed-base (Laspeyres) monthly price index (round 6)
# ---------------------------------------------------------------------------


@register(
    "q_part_price_index",
    oracle="""
    WITH li AS MATERIALIZED (
      SELECT l_partkey AS pk,
             CAST(EXTRACT(year FROM CAST(l_shipdate AS TIMESTAMP)) * 12
                  + EXTRACT(month FROM CAST(l_shipdate AS TIMESTAMP)) - 1
                  AS BIGINT) AS mn,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS ec,
             CAST(round(l_quantity * 100) AS BIGINT) AS qc
      FROM lineitem
    ),
    pm AS (
      SELECT pk, mn,
             CAST(SUM(ec) AS BIGINT) AS e,
             CAST(SUM(qc) AS BIGINT) AS q
      FROM li GROUP BY 1, 2
    ),
    base AS (
      SELECT pk, e * 1000 // q AS up_b, q AS qb
      FROM pm WHERE mn = (SELECT min(mn) FROM pm)
    )
    SELECT pm.mn AS month_num,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(SUM((pm.e * 1000 // pm.q) * base.qb) * 1000
                // SUM(base.up_b * base.qb) AS BIGINT)
             AS index_permille
    FROM pm JOIN base USING (pk)
    GROUP BY 1
    """,
)
def q_part_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-base Laspeyres price index per month — the canonical
    "are prices rising, holding the basket constant" metric: each
    month's per-part unit price (exact integer milli-price,
    ``Σcents·1000 div Σcenti-qty``) is weighted by the part's
    BASE-month quantity, and the index is the permille ratio of the
    reweighted current basket to the base basket, over the parts
    present in both. All-integer cross-multiplication; the one
    division per side is exact truncating div on both engines
    (decimal ``div`` on Spark, HUGEINT ``//`` in DuckDB — never
    DECIMAL ``//``, which ROUNDS in DuckDB, the q_supplier_hhi
    lesson).

    Plan: ONE fact-scale exchange — the (part, month) aggregate —
    localCheckpoint'd so the base-month scalar, the base slice, and
    the index join all reuse it; the base month arrives as a 1-row
    broadcast, the base slice is month-pruned and joins back
    part-keyed (AQE broadcasts it at fixture scale; at 100 TB it is
    a |parts|-row co-keyed shuffle join), and the final rollup is
    |months| groups."""
    pm = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("pk"),
            (
                F.year(F.to_date("l_shipdate")) * 12
                + F.month(F.to_date("l_shipdate"))
                - 1
            )
            .cast("bigint")
            .alias("mn"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("ec"),
            F.round(F.col("l_quantity") * 100).cast("bigint").alias("qc"),
        )
        .groupBy("pk", "mn")
        .agg(F.sum("ec").alias("e"), F.sum("qc").alias("q"))
        .localCheckpoint(eager=False)  # base scalar + slice + join reuse
    )
    mn0 = pm.agg(F.min("mn").alias("mn0"))
    base = (
        pm.crossJoin(F.broadcast(mn0))
        .filter(F.col("mn") == F.col("mn0"))
        .select(
            "pk",
            F.expr("e * 1000 div q").alias("up_b"),
            F.col("q").alias("qb"),
        )
    )
    return (
        pm.join(base, "pk")
        .select(
            "mn",
            (F.expr("e * 1000 div q") * F.col("qb"))
            .cast("decimal(38,0)")
            .alias("cur_w"),
            (F.col("up_b") * F.col("qb")).cast("decimal(38,0)").alias(
                "base_w"
            ),
        )
        .groupBy(F.col("mn").alias("month_num"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.expr("CAST(sum(cur_w) * 1000 div sum(base_w) AS BIGINT)")
            .alias("index_permille"),
        )
    )


# ---------------------------------------------------------------------------
# q_part_supplier_concentration — sourcing-concentration risk (round 6)
# ---------------------------------------------------------------------------


@register(
    "q_part_supplier_concentration",
    oracle="""
    WITH psup AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rc
      FROM lineitem GROUP BY 1, 2
    ),
    pp AS (
      SELECT pk,
             CAST(SUM(rc) AS BIGINT) AS total,
             CAST(max(rc) AS BIGINT) AS top1,
             count(*) AS ns
      FROM psup GROUP BY 1
    )
    SELECT CAST(top1 * 10 // total AS BIGINT) AS top_share_decile,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(SUM(total) AS BIGINT) AS revenue_cents,
           CAST(SUM(ns) * 1000 // count(*) AS BIGINT)
             AS avg_suppliers_permille
    FROM pp GROUP BY 1
    """,
)
def q_part_supplier_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sourcing-concentration risk: per part, the TOP supplier's share
    of that part's revenue, histogrammed in exact deciles with the
    revenue at stake and the average nominal supplier count per
    bucket. Nominal supplier counts hide captivity — a part with 20
    suppliers where one ships 90% of the value is effectively
    single-sourced — so procurement reviews cut by dominant-share,
    not by count (the per-part refinement of q_supplier_hhi's
    nation-level concentration).

    Plan: the q_events_dau_mau two-level re-aggregation — one
    map-combined fact aggregate to (part, supplier) grain, a
    part-grain re-aggregate (sum + max + count ride the same group),
    and a ≤10-cell rollup. One fact-scale exchange; the (part,
    supplier) exchange volume is the distinct pair count."""
    psup = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("rc")
        )
    )
    pp = psup.groupBy("pk").agg(
        F.sum("rc").alias("total"),
        F.max("rc").alias("top1"),
        F.count(F.lit(1)).alias("ns"),
    )
    return (
        pp.groupBy(
            F.expr("CAST(top1 * 10 div total AS BIGINT)").alias(
                "top_share_decile"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("total").cast("long").alias("revenue_cents"),
            F.expr("CAST(sum(ns) * 1000 div count(1) AS BIGINT)").alias(
                "avg_suppliers_permille"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_dq_completeness — whole-schema NULL-rate audit (round 6)
# ---------------------------------------------------------------------------


#: the declared fixture schema the completeness audit sweeps — a
#: literal map (stable across sf dirs) shared verbatim by the builder
#: and the oracle generator so the two can never drift. A
#: schema-pinning test compares it against the live parquet schemas.
_COMPLETENESS_COLS = {
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
    "customer": ("c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"),
    "supplier": ("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part": ("p_partkey", "p_name", "p_brand", "p_type", "p_size",
             "p_retailprice"),
    "orders": ("o_orderkey", "o_custkey", "o_orderstatus",
               "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey",
                 "l_linenumber", "l_quantity", "l_extendedprice",
                 "l_discount", "l_tax", "l_returnflag",
                 "l_linestatus", "l_shipdate"),
    "events": ("event_id", "ts", "user_id", "event_type", "value",
               "props"),
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings": ("vec_id", "embedding", "label"),
}


def _sql_completeness() -> str:
    """One SELECT per column keeps the oracle ANSI-plain — DuckDB
    prunes each to a single-column scan."""
    sel = []
    for t, cols in _COMPLETENESS_COLS.items():
        for c in cols:
            sel.append(f"""
    SELECT '{t}.{c}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END),
                0) AS BIGINT) AS n_null,
           CAST(CASE WHEN count(*) = 0 THEN 0
                ELSE SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                     * 1000 // count(*) END AS BIGINT) AS null_permille
    FROM {t}""")
    return " UNION ALL ".join(sel)


@register("q_dq_completeness", oracle=_sql_completeness())
def q_dq_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema completeness audit: NULL count and integer
    permille NULL rate for EVERY column of every table — the fourth
    sibling of the DQ family (referential = FK edges, uniqueness =
    candidate keys, FD = dependencies, completeness = presence), and
    the first report a lakehouse ingest publishes: which fields can a
    downstream model actually rely on. The clean fixtures score zero
    everywhere by construction; the planted-NULL differential suite
    is what exercises the non-zero paths.

    Plan: ZERO heavy exchanges — each table contributes ONE
    map-combined aggregate row carrying count(*) plus one
    null-counter per column (no explode, no union volume: the
    fused-audit tagged-union trick is WRONG here because nothing
    needs row-level grouping), and the per-table rows explode to
    (column, metrics) long form driver-free. |columns| output rows
    at any corpus size.

    r11 (guide §7.3 — driver-side planning as the wall): the plan is
    UNCHANGED but is now built as ONE ``spark.sql`` string instead of
    ~250 Py4J ``Column`` constructions chained through ten
    ``unionAll``s. Measured at sf0.1: builder 2.5-2.7 s → ~0.15 s
    (plus one-off view registration, itself memoized per session in
    sqlapi.register_views); execution unchanged (~0.5-0.9 s), results
    byte-identical. The fused tagged-union A/B (tools/
    ab_completeness.py) was also run and wins only ~8% of execution —
    the real cost was never the execution shape, it was plan
    construction; the SQL form fixes that without changing the plan."""
    from streamclient_spark.sqlapi import register_views

    register_views(spark, sf_dir)
    parts = []
    for t, cols in _COMPLETENESS_COLS.items():
        # coalesce matches the oracle's coalesce(SUM(...), 0): on an
        # EMPTY table SUM is NULL but the report should say 0 nulls.
        aggs = ", ".join(
            f"coalesce(sum(cast({c} is null as bigint)), 0) AS z{i}"
            for i, c in enumerate(cols)
        )
        structs = ", ".join(
            f"named_struct('column_name', '{t}.{c}', "
            f"'n_rows', cast(n as bigint), 'n_null', cast(z{i} as bigint))"
            for i, c in enumerate(cols)
        )
        parts.append(
            f"SELECT inline(array({structs})) "
            f"FROM (SELECT count(1) AS n, {aggs} FROM {t})"
        )
    return spark.sql(
        "SELECT column_name, n_rows, n_null, "
        "cast(CASE WHEN n_rows = 0 THEN 0 "
        "ELSE n_null * 1000 div n_rows END AS bigint) AS null_permille "
        "FROM (" + " UNION ALL ".join(parts) + ")"
    )


# ---------------------------------------------------------------------------
# q_customer_migration — period-over-period segment transition matrix
# ---------------------------------------------------------------------------

#: period split: orders strictly before this year are P1, the rest P2
_MIGRATE_SPLIT_YEAR = 1998


@register(
    "q_customer_migration",
    oracle=f"""
    WITH cp AS (
      SELECT o_custkey AS cust,
             CASE WHEN EXTRACT(year FROM CAST(o_orderdate AS TIMESTAMP))
                       < {_MIGRATE_SPLIT_YEAR} THEN 0 ELSE 1 END AS p,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rc
      FROM orders GROUP BY 1, 2
    ),
    seg AS (
      SELECT cust, p,
             CAST((row_number() OVER
                     (PARTITION BY p ORDER BY rc DESC, cust) - 1) * 3
                  // (count(*) OVER (PARTITION BY p)) AS BIGINT) AS s
      FROM cp
    )
    SELECT coalesce(a.s, -1) AS seg_p1,
           coalesce(b.s, -1) AS seg_p2,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM (SELECT cust, s FROM seg WHERE p = 0) a
    FULL JOIN (SELECT cust, s FROM seg WHERE p = 1) b USING (cust)
    GROUP BY 1, 2
    """,
)
def q_customer_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value-segment migration matrix: customers terciled by
    exact revenue within each of two periods (pre-/post-1998, the
    corpus midpoint; 0 = top third), and the 4×4 transition counts
    between the periods
    — including the ``-1`` churned/new margins (active in only one
    period). This is the retention-economics view behind "did my best
    customers stay my best customers", one level up from
    q_cohort_retention's activity counts: it tracks VALUE RANK, not
    presence.

    Terciles are RANK-based on both engines — ``(row_number−1)·3 div
    n_period`` over (revenue desc, cust) — never NTILE (engines
    distribute NTILE remainders differently than this floor form, and
    the floor form is the one that stays exact under re-partitioning).

    Plan: one orders-scale exchange to (cust, period) grain; the
    global rank runs `scale.ranked_by_range` over the total order
    (period, revenue desc, cust) — sampler-free placement layout, NO
    single-task window sort — rebased per period by LITERAL offsets/
    sizes from the layout's exact group spans (r12: the bounds
    re-aggregate and its 2-row broadcast join are gone; jobs 13→9,
    A/B 1.63→1.34 s median sf0.1); the transition matrix comes from
    ONE cust-keyed
    hash-aggregate PIVOT of the (cust, p, s) table (max-when per
    period; a cust appears at most once per period, so the pivot IS
    the full-outer join) and a 16-cell rollup. r11: the pivot replaced
    a full-outer SMJ of two filtered slices of a checkpointed copy —
    one hash shuffle instead of checkpoint + two scans + sort-merge;
    A/B sf0.1 2.24→1.94 s, sf1 2.93→2.09 s warm min, identical
    cells (the RFM stacked-pivot device, VERDICT r10 #5)."""
    from streamclient_spark.scale import ranked_by_range

    cp = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("cust"),
            # Explicit NULL rule mirroring the oracle's CASE: a NULL
            # o_orderdate fails the `< split` test and lands in the
            # ELSE branch (period 1) on BOTH engines. The bare
            # `(year >= split).cast(int)` form yielded p=NULL and the
            # period filters then silently dropped those customers.
            F.when(
                F.year(F.to_date("o_orderdate")) < _MIGRATE_SPLIT_YEAR,
                F.lit(0),
            )
            .otherwise(F.lit(1))
            .alias("p"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("rc"),
        )
        .groupBy("cust", "p")
        .agg(F.sum("rc").alias("rc"))
    )
    # r12: checkpoint the (cust, period) aggregate so the layout probe
    # and the placement exchange share one computation (the old sampler
    # form recomputed the orders aggregate for its sampling pass)
    cp = cp.localCheckpoint(eager=False)
    lay: dict = {}
    ranked = ranked_by_range(
        cp,
        ["p", F.desc("rc"), F.asc("cust")],
        rank_col="grk",
        group_col="p",
        layout=lay,
    )
    # per-period rank rebase from the layout's EXACT group spans —
    # r0 = base_p + 1 and np = |period p| are literals now (r12:
    # replaces the bounds re-aggregate + 2-row broadcast join)
    whens = " ".join(
        f"WHEN p = {g} THEN (grk - {base + 1}) * 3 div {cnt}"
        for g, (base, cnt) in sorted(lay["groups"].items())
        if g is not None and cnt > 0
    )
    seg = ranked.select(
        "cust",
        "p",
        (
            F.expr(f"CASE {whens} END") if whens else F.lit(None)
        ).cast("long").alias("s"),
    )
    return (
        seg.groupBy("cust")
        .agg(
            F.max(F.when(F.col("p") == 0, F.col("s"))).alias("sa"),
            F.max(F.when(F.col("p") == 1, F.col("s"))).alias("sb"),
        )
        .groupBy(
            F.coalesce(F.col("sa"), F.lit(-1)).alias("seg_p1"),
            F.coalesce(F.col("sb"), F.lit(-1)).alias("seg_p2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# q_graph_closeness — per-seed closeness/eccentricity profile (round 6)
# ---------------------------------------------------------------------------

#: per-seed BFS sources (top hubs) and the oracle's relaxation unroll.
#: A SINGLE seed's eccentricity exceeds the seed-SET fixpoint of
#: q_graph_bfs (the set converges in <=6 rounds measured; one source
#: must walk the whole component alone), so the margin is wider; a
#: convergence test pins engine rounds <= _CLOSE_ROUNDS.
_CLOSE_SEEDS = 8
_CLOSE_ROUNDS = 16


def _sql_closeness_oracle() -> str:
    """Per-seed min-relaxation replay over (seed, node) state — the
    q_graph_bfs oracle lifted to one distance table per source."""
    sql = [
        f"WITH {_SQL_COPURCHASE_E0}",
        """
    , adj AS MATERIALIZED (SELECT a0 AS u, b0 AS v FROM e0
               UNION ALL SELECT b0, a0 FROM e0)
    , d0 AS MATERIALIZED (
        SELECT u AS s, u AS node, 0 AS d FROM adj GROUP BY u
        ORDER BY count(*) DESC, u ASC LIMIT {seeds}
    )""".format(seeds=_CLOSE_SEEDS),
    ]
    prev = "d0"
    for i in range(1, _CLOSE_ROUNDS + 1):
        sql.append(f"""
    , d{i} AS MATERIALIZED (
        SELECT s, node, min(d) AS d FROM (
          SELECT s, node, d FROM {prev}
          UNION ALL
          SELECT {prev}.s, adj.v, {prev}.d + 1 FROM adj
          JOIN {prev} ON adj.u = {prev}.node
        ) GROUP BY s, node
    )""")
        prev = f"d{i}"
    sql.append(f"""
    SELECT s AS seed,
           CAST(count(*) AS BIGINT) AS n_reached,
           CAST(SUM(d) AS BIGINT) AS total_dist,
           CAST(max(d) AS BIGINT) AS eccentricity,
           CAST(SUM(d) * 1000 // count(*) AS BIGINT)
             AS avg_dist_permille
    FROM {prev} GROUP BY s
    """)
    return "".join(sql)


@register("q_graph_closeness", oracle=_sql_closeness_oracle())
def q_graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-seed closeness profile: for each of the top-{_CLOSE_SEEDS}
    hub nodes, how much of the co-purchase graph it reaches, the total
    and average hop distance (exact integer permille), and its
    eccentricity — the centrality scorecard behind "which hub is the
    best broadcast point" and the per-source refinement of
    q_graph_bfs's distance-to-set histogram (the set collapses all
    seeds into one frontier; this keeps them apart).

    Engine: the tagged multi-source BFS (:func:`_bfs_layers`) with
    each seed its own tag, so every node is settled at most once PER
    SEED and total work is O(seeds·|E|); its loop is
    :func:`scale.fixpoint`, which owns the checkpoint and probe. The
    oracle unrolls {_CLOSE_ROUNDS} relaxation rounds; a convergence
    test pins the engine fixpoint within that margin."""
    dist, _adj, _rounds = _bfs_layers(
        spark, sf_dir, _CLOSE_SEEDS, tag_each_seed=True
    )
    return dist.groupBy(F.col("s").alias("seed")).agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.sum("d").cast("long").alias("total_dist"),
        F.max("d").cast("long").alias("eccentricity"),
        F.expr("CAST(sum(d) * 1000 div count(1) AS BIGINT)").alias(
            "avg_dist_permille"
        ),
    )


# ---------------------------------------------------------------------------
# q_events_bot_detection — automated-traffic heuristic audit (round 6)
# ---------------------------------------------------------------------------

#: integer thresholds for the three bot signals (chosen non-degenerate
#: on the fixture: 54/89/17 of 150 users trip them at sf0.01)
_BOT_MIN_EVENTS = 70
_BOT_MIN_ACTIVE_DAYS = 29


@register(
    "q_events_bot_detection",
    oracle=f"""
    WITH e AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s,
             CAST(date_diff('day', DATE '1970-01-01',
                  CAST(ts AS TIMESTAMP)::DATE) AS BIGINT) AS d
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    g AS (
      SELECT user_id, d,
             s - lag(s) OVER (PARTITION BY user_id ORDER BY s) AS gap
      FROM e
    ),
    u AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT d) AS BIGINT) AS nd,
             CAST(count(gap) AS HUGEINT) AS ng,
             CAST(coalesce(SUM(gap), 0) AS HUGEINT) AS sx,
             coalesce(SUM(CAST(gap AS HUGEINT) * gap), 0) AS sxx
      FROM g GROUP BY 1
    )
    SELECT (n >= {_BOT_MIN_EVENTS}) AS high_volume,
           (ng > 1 AND ng * sxx - sx * sx <= sx * sx) AS metronomic,
           (nd >= {_BOT_MIN_ACTIVE_DAYS}) AS always_on,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(SUM(n) AS BIGINT) AS n_events
    FROM u GROUP BY 1, 2, 3
    """,
)
def q_events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated-traffic heuristic audit — the bot-filtering cut a
    training pipeline runs before any engagement data is trusted:
    users flagged on three integer signals (high volume, metronomic
    timing — population CV of inter-arrival seconds ≤ 1, decided by
    the cross-multiplied moment inequality ng·Σg² − (Σg)² ≤ (Σg)², no
    float CV — and always-on presence), rolled up to the 8-cell flag
    cube with user and event counts. Moments accumulate in
    decimal/HUGEINT: second-granularity gaps square safely, but a
    year-long history at event rates would not fit int64 cross terms.

    Plan: ONE fact-scale exchange — events repartitioned by user feed
    the lag window AND the per-user aggregate exchange-free (the
    q_feature_pit recipe); the flag cube is an 8-group rollup.
    Unkeyed rows (NULL user/ts) are excluded by contract on both
    engines."""
    par = spark.sparkContext.defaultParallelism
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.expr("unix_micros(ts) div 1000000").alias("s"),
            F.expr(
                "CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)"
            ).alias("d"),
        )
        .repartition(par, "user_id")
    )
    w = Window.partitionBy("user_id").orderBy("s")
    g = e.select(
        "user_id", "d", (F.col("s") - F.lag("s").over(w)).alias("gap")
    )
    dec = "decimal(38,0)"
    u = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("d").alias("nd"),
        F.count("gap").cast(dec).alias("ng"),
        F.coalesce(F.sum("gap"), F.lit(0)).cast(dec).alias("sx"),
        F.coalesce(
            F.sum(F.col("gap").cast(dec) * F.col("gap")), F.lit(0)
        ).alias("sxx"),
    )
    return (
        u.groupBy(
            (F.col("n") >= _BOT_MIN_EVENTS).alias("high_volume"),
            (
                (F.col("ng") > 1)
                & (
                    F.col("ng") * F.col("sxx") - F.col("sx") * F.col("sx")
                    <= F.col("sx") * F.col("sx")
                )
            ).alias("metronomic"),
            (F.col("nd") >= _BOT_MIN_ACTIVE_DAYS).alias("always_on"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n").cast("long").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# q_orders_repeat_interval — repeat-purchase latency histogram (round 6)
# ---------------------------------------------------------------------------


@register(
    "q_orders_repeat_interval",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS c,
             CAST(date_diff('day', DATE '1970-01-01',
                  CAST(o_orderdate AS TIMESTAMP)::DATE) AS BIGINT) AS d,
             o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS tc
      FROM orders
    ),
    g AS (
      SELECT c, tc,
             d - lag(d) OVER (PARTITION BY c ORDER BY d, k) AS gap
      FROM o
    ),
    b AS (
      SELECT CASE WHEN gap <= 7 THEN '0-7d'
                  WHEN gap <= 30 THEN '8-30d'
                  WHEN gap <= 90 THEN '31-90d'
                  ELSE '91d+' END AS bucket,
             tc
      FROM g WHERE gap IS NOT NULL
    ),
    tot AS (SELECT count(*) AS t FROM b)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_repeats,
           CAST(SUM(tc) AS BIGINT) AS repeat_cents,
           CAST(count(*) * 1000 // tot.t AS BIGINT) AS share_permille
    FROM b CROSS JOIN tot GROUP BY 1, tot.t
    """,
)
def q_orders_repeat_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase latency: the distribution of day gaps between a
    customer's consecutive orders, bucketed with repeat revenue and
    integer share — the metric behind replenishment-cycle estimation
    and "is my repeat window 7 or 90 days" lifecycle marketing, and
    the orders-side complement of q_events_inter_arrival (which is
    event-time, not business-cadence). Ties on a day break by
    orderkey so the lag is total-ordered and deterministic.

    Plan: ONE orders-scale exchange — hash(cust) feeds the per-
    customer lag window directly (no pre-aggregate: the observation
    grain IS the order); a 4-bucket rollup with a 1-row total
    broadcast. Per-customer sort is bounded by order counts, never
    corpus-wide."""
    par = spark.sparkContext.defaultParallelism
    o = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("c"),
            F.expr(
                "CAST(datediff(to_date(o_orderdate), DATE '1970-01-01')"
                " AS BIGINT)"
            ).alias("d"),
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("tc"),
        )
        .repartition(par, "c")
    )
    w = Window.partitionBy("c").orderBy("d", "k")
    g = o.select(
        "tc", (F.col("d") - F.lag("d").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    b = g.select(
        F.when(F.col("gap") <= 7, "0-7d")
        .when(F.col("gap") <= 30, "8-30d")
        .when(F.col("gap") <= 90, "31-90d")
        .otherwise("91d+")
        .alias("bucket"),
        "tc",
    ).localCheckpoint(eager=False)  # the 1-row total AND the rollup
    # both read this frame — without the checkpoint the orders scan
    # and the per-customer lag window sort would run twice.
    tot = b.agg(F.count(F.lit(1)).alias("t"))
    return (
        b.crossJoin(F.broadcast(tot))
        .groupBy("bucket", "t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_repeats"),
            F.sum("tc").cast("long").alias("repeat_cents"),
        )
        .select(
            "bucket",
            "n_repeats",
            F.col("repeat_cents"),
            F.expr("n_repeats * 1000 div t")
            .cast("long")
            .alias("share_permille"),
        )
    )
