"""Relational analytics operators (joins / aggregations / windows /
set ops / subqueries), expressed Spark-first.

The reference has none of these (SURVEY.md §2.3-2.7 mark them
absent); they come from stock Catalyst. What we contribute is the
*plan shape* that scales:

- tiny fixed-cardinality dims (region, nation) are explicitly
  broadcast — no shuffle for their joins at any scale;
- fact-fact joins (orders ⋈ lineitem) shuffle on the join key once
  and AQE handles skew/coalescing;
- aggregations are partial (map-side combine) by construction since
  we use built-in aggregate functions only — no Python in the hot
  path anywhere in this module;
- top-k uses sort-limit (TakeOrderedAndProject), not a global sort.

Float aggregates are rounded identically in the Spark plan and the
DuckDB oracle so value hashes match across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from go_integ_spark.registry import register
from go_integ_spark.tables import load_table


# --------------------------------------------------------------------------
# Q1-style pricing summary: the flagship scan-heavy aggregation.
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    bench=True,
    tags=("agg", "scan"),
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                    AS sum_qty,
       round(sum(l_extendedprice), 2)                               AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4)                                    AS avg_qty,
       round(avg(l_extendedprice), 4)                               AS avg_price,
       round(avg(l_discount), 6)                                    AS avg_disc,
       CAST(count(*) AS BIGINT)                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape. Filter + project reach the parquet scan
    (PushedFilters on l_shipdate, ReadSchema of 7 columns); the
    group-by has 4-6 groups so partial aggregation collapses nearly
    all rows map-side — at 100 TB this is scan-bound, as it should be.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    bench=True,
    tags=("join", "topk"),
    oracle="""
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim-side filter, two fact joins, top-10.

    customer (filtered on segment) is small relative to the facts —
    at sf0.1 it broadcast-joins under AQE; at 100 TB the orders ⋈
    lineitem join shuffles on orderkey once. The final top-10 is a
    sort-limit (TakeOrderedAndProject) — no global sort. Tie-break on
    l_orderkey makes the limit deterministic across engines.
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    bench=True,
    tags=("join", "agg"),
    oracle="""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. region/nation are explicitly
    broadcast (5 / 25 rows at every scale factor); supplier is
    broadcast-able through AQE. Only the customer-orders-lineitem
    chain shuffles. Join order is written smallest-reduction-first
    but Catalyst reorders freely since all joins are equi-joins.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "q6_forecast_revenue",
    bench=True,
    tags=("scan", "agg"),
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       CAST(count(*) AS BIGINT)                    AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + filter + global agg. All four
    predicates push into the parquet reader; the aggregation is a
    single partial+final sum — the minimal possible plan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q10_returned_items",
    bench=True,
    tags=("join", "topk"),
    oracle="""
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(c_acctbal, 2) AS acctbal,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top-20.
    nation broadcast; returnflag filter pushed to the lineitem scan.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q4_late_orders",
    tags=("join", "semi", "exists"),
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
""",
)
def q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelates to a LEFT SEMI join on
    orderkey (one shuffle); the non-equi ship-date condition rides
    along as a join residual, so no cartesian anywhere.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------------
# Windows
# --------------------------------------------------------------------------
@register(
    "window_top_orders_per_customer",
    bench=True,
    tags=("window", "topk"),
    oracle="""
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
           ) AS INT) AS rn
    FROM orders
)
WHERE rn <= 3
""",
)
def window_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price. row_number over a hash-
    partitioned window: one shuffle on o_custkey; customer cardinality
    grows with data so there is no skewed giant partition. Tie-break
    on o_orderkey for cross-engine determinism.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice"), 2).alias("totalprice"),
            "rn",
        )
    )


@register(
    "window_running_customer_spend",
    tags=("window",),
    oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 2) AS running_spend
FROM orders
WHERE o_custkey < 100
""",
)
def window_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer. The o_custkey < 100 filter is pushed
    to the scan; the window shuffles only the surviving rows. The
    ORDER BY (o_orderdate, o_orderkey) is total, so the running sum is
    deterministic and engines agree bit-for-bit after rounding.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


def _segment_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_mktsegment, c_custkey, spend): per-customer order spend,
    2dp — the shared base frame of window_spend_quartiles and
    window_share_of_segment (one spelling so their spend semantics
    cannot drift)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )


@register(
    "window_spend_quartiles",
    tags=("window",),
    oracle="""
SELECT c_mktsegment, c_custkey, spend,
       CAST(ntile(4) OVER w AS INT)              AS quartile,
       round(percent_rank() OVER w, 6)           AS pct_rank
FROM (
    SELECT c_mktsegment, c_custkey,
           round(sum(o_totalprice), 2) AS spend
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_mktsegment, c_custkey
)
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY spend DESC, c_custkey)
""",
)
def window_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile (ntile) + percent_rank of per-customer spend within
    each market segment, computed with a SCALE-SAFE two-pass rank:
    segment cardinality is fixed (5), so a plain
    ``Window.partitionBy(c_mktsegment)`` would sort ~1/5 of all
    customers on one executor at 100 TB.

    Instead: (1) collect per-segment approximate spend quantiles as
    literal cut points (driver holds segments × slices doubles);
    (2) bin every row to a contiguous slice of its segment's ranking
    and row_number within each (segment, slice) — small, distributed
    sorts; (3) broadcast the tiny per-slice row counts back as
    cumulative offsets, so ``global rank = local row_number +
    offset``; (4) derive ntile(4) and percent_rank arithmetically
    from (rank, segment total) map-side. No executor ever sorts more
    than one slice; the only broadcast is O(slices × segments)
    counters.
    """
    # spend feeds the driver-side cuts collect, the counts/offsets
    # subtree, AND the probe side of the final join -> persist
    # (single-slot cache: a bare persist leaked one copy per
    # invocation for the session lifetime, r7 review) so the
    # customer-orders join + aggregation runs once, not three times.
    from go_integ_spark.functions.cache import cached_persist

    spend_base = _segment_spend(spark, sf_dir)
    spend = cached_persist("quartiles_spend", spend_base, lambda: spend_base)

    # Pass 1: per-segment approximate spend quantiles -> fixed cut
    # points collected to the driver (segments × slices values, tiny).
    # Binning against *literal* cut points is a pure function of the
    # row, so the counts job and the final job can never disagree on a
    # row's slice (a sampled repartitionByRange could, across jobs).
    # Floor of 2 slices: at shuffle_partitions=1 the probs list would
    # be empty and percentile_approx returns NULL cuts.
    # some platforms set shuffle.partitions to the string "auto"
    # (AQE-managed) — fall back to a fixed slice count there
    try:
        n_slices = max(
            2, int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        )
    except ValueError:
        n_slices = 32
    probs = [i / n_slices for i in range(1, n_slices)]
    cut_rows = (
        spend.groupBy("c_mktsegment")
        .agg(F.percentile_approx("spend", probs).alias("cuts"))
        .collect()
    )
    cuts_items: list = []
    for row in cut_rows:
        cuts_items.append(F.lit(row["c_mktsegment"]))
        cuts_items.append(F.array(*[F.lit(float(c)) for c in row["cuts"]]))
    cuts_map = F.create_map(*cuts_items)

    # slice_id = number of cut points >= spend: monotone along the
    # (spend DESC, custkey) window order, equal spends share a slice.
    sliced = spend.withColumn(
        "slice_id",
        F.size(
            F.filter(
                cuts_map[F.col("c_mktsegment")], lambda c: c >= F.col("spend")
            )
        ),
    )

    w_local = Window.partitionBy("c_mktsegment", "slice_id").orderBy(
        F.col("spend").desc(), F.col("c_custkey")
    )
    local = sliced.withColumn("lrn", F.row_number().over(w_local))

    counts = local.groupBy("c_mktsegment", "slice_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_off = (
        Window.partitionBy("c_mktsegment")
        .orderBy("slice_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "c_mktsegment",
        "slice_id",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("rank_off"),
        F.sum("cnt").over(Window.partitionBy("c_mktsegment")).alias("n_seg"),
    )

    r = F.col("lrn") + F.col("rank_off")
    n = F.col("n_seg")
    # ntile(4): first (n % 4) buckets get ceil(n/4) rows, the rest
    # floor(n/4) — same assignment the window function makes over the
    # identical total order.
    big = F.floor(n / 4) + 1
    rem = n % 4
    in_big = r <= rem * big
    quartile = F.when(in_big, F.ceil(r / big)).otherwise(
        rem + F.ceil((r - rem * big) / F.floor(n / 4))
    )
    pct = F.when(n > 1, (r - 1) / (n - 1)).otherwise(F.lit(0.0))

    return local.join(F.broadcast(offsets), ["c_mktsegment", "slice_id"]).select(
        "c_mktsegment",
        "c_custkey",
        "spend",
        quartile.cast("int").alias("quartile"),
        F.round(pct, 6).alias("pct_rank"),
    )


# --------------------------------------------------------------------------
# Grouping sets / rollup / cube
# --------------------------------------------------------------------------
@register(
    "agg_rollup_nation_segment",
    tags=("agg", "rollup"),
    oracle="""
SELECT n_name, c_mktsegment,
       CAST(count(*) AS BIGINT)  AS n_customers,
       round(sum(c_acctbal), 2)  AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
""",
)
def agg_rollup_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (nation, segment). Spark expands grouping sets in a
    single Expand+Aggregate — one shuffle for all three grouping
    levels, not one per level.
    """
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        c.join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@register(
    "agg_cube_status_priority",
    tags=("agg", "cube"),
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(status, priority): all four grouping sets — per pair,
    per status, per priority and the grand total — in ONE pass over
    orders (Expand + single aggregation, not four scans unioned).
    """
    c = load_table(spark, sf_dir, "orders")
    return c.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "agg_distinct_counts",
    tags=("agg", "distinct"),
    oracle="""
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
       CAST(count(*) AS BIGINT)                  AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation. Spark plans this as Expand +
    two-phase aggregate; exact distinct is required for oracle parity
    (the approx_count_distinct scale path lives in operators/advanced.py for
    callers that can trade accuracy).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------
@register(
    "set_intersect_rich_building",
    tags=("setop",),
    oracle="""
SELECT c_custkey FROM customer WHERE c_acctbal > 7500
INTERSECT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
""",
)
def set_intersect_rich_building(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    rich = c.filter(F.col("c_acctbal") > 7500).select("c_custkey")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return rich.intersect(building)


@register(
    "set_except_rich_not_building",
    tags=("setop",),
    oracle="""
SELECT c_custkey FROM customer WHERE c_acctbal > 7500
EXCEPT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
""",
)
def set_except_rich_not_building(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    rich = c.filter(F.col("c_acctbal") > 7500).select("c_custkey")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return rich.subtract(building)


@register(
    "set_union_distinct",
    tags=("setop",),
    oracle="""
SELECT c_custkey FROM customer WHERE c_acctbal > 9000
UNION
SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
""",
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    b = o.filter(F.col("o_totalprice") > 400000).select(F.col("o_custkey").alias("c_custkey"))
    return a.union(b).distinct()


# --------------------------------------------------------------------------
# Semi / anti joins, subqueries
# --------------------------------------------------------------------------
@register(
    "join_semi_customers_with_orders",
    tags=("join", "semi"),
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti_customers_without_orders",
    tags=("join", "anti"),
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "subquery_orders_above_avg",
    tags=("subquery", "agg"),
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
FROM orders
WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
""",
)
def subquery_orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: the avg is a one-row broadcast cross join —
    no driver-side collect, the threshold stays inside the plan.
    """
    o = load_table(spark, sf_dir, "orders")
    avg_df = o.agg((2 * F.avg("o_totalprice")).alias("threshold"))
    return (
        o.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("threshold"))
        .select("o_orderkey", F.round(F.col("o_totalprice"), 2).alias("totalprice"))
    )


@register(
    "sort_limit_top_lineitems",
    tags=("sort", "topk"),
    oracle="""
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 100
""",
)
def sort_limit_top_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100: Spark plans orderBy+limit as
    TakeOrderedAndProject (per-partition heap + driver merge of 100
    rows) — O(n) scan, no global sort shuffle. Safe at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice"), 2).alias("extendedprice"),
        )
    )


@register(
    "window_order_gaps",
    tags=("window", "lag"),
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(epoch_us(o_orderdate)
            - epoch_us(lag(o_orderdate) OVER w) AS BIGINT) AS gap_us,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER wr AS BIGINT)
           / count(*) OVER wr / 100.0 AS avg_price_30d
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wr AS (PARTITION BY o_custkey ORDER BY o_orderdate
              RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
""",
)
def window_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag + a 30-day RANGE frame per customer: inter-order gap and a
    trailing 30-day average order value. One shuffle AND one sort on
    (o_custkey, o_orderdate, o_orderkey) serve both window specs —
    the RANGE frame orders by the o_orderdate prefix with interval
    bounds (the window_trailing_spend technique), so the lag's finer
    sort satisfies it and no second Sort appears in the plan.
    NB: DuckDB RANGE frames reject a tie-broken ORDER BY, so the
    frame's window orders by o_orderdate alone — o_orderdate is
    unique per customer in this data, making (o_orderdate,
    o_orderkey) and (o_orderdate) the same order; the lag keeps the
    explicit total order.
    """
    o = load_table(spark, sf_dir, "orders")
    ts = F.col("o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # integer cents: exact window sums, so the trailing average is
    # bit-identical across engines (a float avg rounds .xx5
    # boundaries differently per summation order)
    over_30d = (
        " OVER (PARTITION BY o_custkey ORDER BY o_orderdate"
        " RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)"
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.unix_micros(ts) - F.unix_micros(F.lag(ts).over(w)))
        .cast("bigint")
        .alias("gap_us"),
        (
            F.expr(
                "sum(cast(round(o_totalprice * 100) as bigint))" + over_30d
            )
            / F.expr("count(1)" + over_30d)
            / 100.0
        ).alias("avg_price_30d"),
    )


@register(
    "window_share_of_segment",
    tags=("window", "ratio", "two_pass"),
    oracle="""
WITH spend AS (
    SELECT c_mktsegment, c_custkey,
           round(sum(o_totalprice), 2) AS spend
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_mktsegment, c_custkey
)
SELECT c_mktsegment, c_custkey, spend,
       round(spend / sum(spend) OVER (PARTITION BY c_mktsegment), 6)
           AS segment_share
FROM spend
""",
)
def window_share_of_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each customer's share of their market
    segment's total spend. The oracle states it as a window; the
    shipped plan uses the scale-safe equivalent — a 5-row segment
    total aggregate broadcast back onto the spend rows — because a
    ``sum() OVER (PARTITION BY c_mktsegment)`` window would funnel
    1/5 of all customers through one executor at 100 TB (same
    rationale as window_spend_quartiles, but for an unordered frame
    the rewrite is a plain grand-total join, no slicing needed).
    """
    spend = _segment_spend(spark, sf_dir)
    totals = spend.groupBy("c_mktsegment").agg(F.sum("spend").alias("seg_total"))
    return (
        spend.join(F.broadcast(totals), "c_mktsegment")
        .select(
            "c_mktsegment",
            "c_custkey",
            "spend",
            F.round(F.col("spend") / F.col("seg_total"), 6).alias("segment_share"),
        )
    )


@register(
    "window_trailing_spend",
    tags=("window", "frame"),
    oracle="""
SELECT o_custkey, o_orderkey,
       round(avg(o_totalprice) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
       ), 4) AS mavg3,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate
           RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
       ), 2) AS trail30d
FROM orders
WHERE o_custkey < 100
""",
)
def window_trailing_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded sliding window frames — the two frame classes the rest
    of the window family doesn't exercise: a ROWS frame (3-order
    moving average; ordered by the total (o_orderdate, o_orderkey)
    key so date ties cannot reorder the frame) and an event-time
    RANGE frame (trailing-30-day spend; peers at the same date all
    fall inside the interval, so it is deterministic without a
    tie-break by construction). Both ride the SAME partition/sort —
    one exchange, one sort, two frame evaluations.

    At scale this is the standard trailing-metrics shape (rolling
    revenue, 30-day actives): state per row is O(frame), the
    partition key spreads customers across executors, and the
    pushed o_custkey filter keeps the window input pruned at the
    scan.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    rows3 = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        # round(4), not round(2): a 2- or 3-row average of 2-decimal
        # prices lands EXACTLY on .xx5 decimal boundaries, where
        # Spark (BigDecimal HALF_UP on the true binary value) and
        # DuckDB disagree; halves and thirds never sit on a
        # 4th-decimal half-boundary, so round(4) is engine-safe.
        F.round(F.avg("o_totalprice").over(rows3), 4).alias("mavg3"),
        F.expr(
            "round(sum(o_totalprice) OVER ("
            " PARTITION BY o_custkey ORDER BY o_orderdate"
            " RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW), 2)"
        ).alias("trail30d"),
    )


@register(
    "agg_weighted_median",
    tags=("agg", "window", "percentile"),
    oracle="""
WITH w AS (
    SELECT l_returnflag,
           l_extendedprice AS price,
           CAST(l_quantity AS BIGINT) AS qty,
           sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag ORDER BY l_extendedprice
           ) AS cumw,
           sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
           ) AS totw
    FROM lineitem
)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(any_value(totw) AS BIGINT) AS total_qty,
       min(CASE WHEN 2 * cumw >= totw THEN price END)
           AS weighted_median_price
FROM w
GROUP BY l_returnflag
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median extended price per return flag:
    the smallest price at which the running quantity weight reaches
    half the group total (lower weighted median — a total function of
    the data, no interpolation, so the result is a RAW data value and
    cross-engine comparison is byte-exact by construction).

    Scale shape (rewritten round 7): the corpus FIRST collapses to
    (flag, price) cells — one map-side-combined aggregation, the only
    shuffle that sees lineitem rows — and the cumulative/total
    windows run over the PRICE DOMAIN per flag (each price appears
    once per flag after the cells, so the old RANGE-frame tie
    handling is vacuous and ROWS==RANGE). The previous form windowed
    the raw rows partitioned by l_returnflag's THREE fixed values,
    funneling a third of the corpus through one sort task — the
    fixed-cardinality trap the module's other windows were already
    rewritten around. Cell cardinality is bounded by the price
    domain, not the row count, so the per-flag sort stays small at
    any SF.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    cells = li.groupBy("l_returnflag", "price").agg(
        F.sum("qty").alias("w_cell"),
        F.count(F.lit(1)).cast("bigint").alias("n_cell"),
    )
    cum = Window.partitionBy("l_returnflag").orderBy("price")
    tot = Window.partitionBy("l_returnflag")
    w = cells.select(
        "l_returnflag",
        "price",
        "n_cell",
        F.sum("w_cell").over(cum).alias("cumw"),
        F.sum("w_cell").over(tot).alias("totw"),
    )
    return w.groupBy("l_returnflag").agg(
        F.sum("n_cell").cast("bigint").alias("n_rows"),
        F.first("totw").cast("bigint").alias("total_qty"),
        F.min(
            F.when(F.lit(2) * F.col("cumw") >= F.col("totw"), F.col("price"))
        ).alias("weighted_median_price"),
    )
