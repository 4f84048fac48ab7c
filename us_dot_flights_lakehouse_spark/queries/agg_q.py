"""Aggregate / statistics queries (a*, daily_*): grouped aggs, drift, robust stats.

The module owns its catalog entries (``QUERIES``/``ORACLES`` at the end).
See the package ``__init__`` for the cross-engine determinism contract.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from us_dot_flights_lakehouse_spark.operators.aggregates import (
    MONEY,
    conditional_avg,
    conditional_count,
    cube_agg,
    dec_sum,
    rollup_agg,
)
from us_dot_flights_lakehouse_spark.operators.physical import bounded_arrow
from us_dot_flights_lakehouse_spark.operators.quantiles import (
    collect_value_histogram,
    histogram_groups,
    percentiles_from_counts,
)
from us_dot_flights_lakehouse_spark.operators.joins import broadcast_star_join
from us_dot_flights_lakehouse_spark.sources.readers import (
    read_corpus,
    read_table,
    spread_scan,
)


def _div(num, den):
    """NULL-on-zero-denominator division, identical in Spark and DuckDB
    (reference KPI ratios emit null when all rows cancelled —
    daily_airline_performance.py:47-72)."""
    return F.when(den != 0, num / den)


def daily_segment_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (A1+A2+A6+J2/J3): daily per-segment KPI mart.

    Re-derives ``daily_airline_performance.py:9-74``: fact ⋈ broadcast dims,
    wide groupBy with plain + conditional aggregates, then post-agg KPI
    ratios with divide-by-zero→NULL semantics. Here: orders enriched with
    the customer dim (broadcast — dim is KBs, fact is TBs at scale),
    grouped by (order day, market segment).
    """
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    fact = broadcast_star_join(
        orders, [(customer, orders.o_custkey == customer.c_custkey)], how="left"
    )
    agg = (
        fact.groupBy(
            F.to_date("o_orderdate").alias("order_date"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .agg(
            F.count("*").alias("total_orders"),
            dec_sum("o_totalprice", "total_revenue"),
            conditional_count(F.col("o_orderstatus") == "F", "fulfilled_orders"),
            conditional_count(F.col("o_orderstatus") == "O", "open_orders"),
            conditional_count(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "urgent_orders"
            ),
            conditional_avg(
                F.col("o_orderstatus") == "F", F.col("o_totalprice"), "avg_fulfilled_price"
            ),
            F.max("o_totalprice").alias("max_price"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )
    return agg.select(
        "*",
        _div(F.col("fulfilled_orders") * 100.0, F.col("total_orders")).alias(
            "fulfillment_rate"
        ),
        _div(F.col("urgent_orders") * 100.0, F.col("total_orders")).alias("urgent_rate"),
        _div(F.col("total_revenue"), F.col("total_orders")).alias("avg_order_value"),
    )


FLAGSHIP_ORACLE = """
WITH fact AS (
  SELECT o.*, c.c_mktsegment
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
), agg AS (
  SELECT
    CAST(o_orderdate AS DATE) AS order_date,
    c_mktsegment AS mktsegment,
    COUNT(*) AS total_orders,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_revenue,
    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS fulfilled_orders,
    CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS open_orders,
    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS urgent_orders,
    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(28,2)) END) AS DOUBLE)
      / NULLIF(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE), 0) AS avg_fulfilled_price,
    MAX(o_totalprice) AS max_price,
    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
  FROM fact
  GROUP BY 1, 2
)
SELECT *,
  fulfilled_orders * 100.0 / NULLIF(total_orders, 0) AS fulfillment_rate,
  urgent_orders * 100.0 / NULLIF(total_orders, 0) AS urgent_rate,
  total_revenue / NULLIF(total_orders, 0) AS avg_order_value
FROM agg
"""


def a3_global_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: global (no-key) aggregate — min/max dates + volume stats
    (reference download_and_ingest.py:313-317, notebook cells 16/19)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count("*").alias("n_orders"),
        F.min(F.to_date("o_orderdate")).alias("first_date"),
        F.max(F.to_date("o_orderdate")).alias("last_date"),
        dec_sum("o_totalprice", "total_revenue"),
        F.countDistinct("o_custkey").alias("n_customers"),
    ).select(
        "*", _div(F.col("total_revenue"), F.col("n_orders")).alias("avg_price")
    )


A3_ORACLE = """
WITH agg AS (
  SELECT COUNT(*) AS n_orders,
         MIN(CAST(o_orderdate AS DATE)) AS first_date,
         MAX(CAST(o_orderdate AS DATE)) AS last_date,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_revenue,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
  FROM orders
)
SELECT *, total_revenue / NULLIF(n_orders, 0) AS avg_price FROM agg
"""


def a4_distinct_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: distinct() as dimension extraction
    (reference dim_airline.py:8-12 distincts carrier code/name pairs)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.select("o_orderstatus", "o_orderpriority").distinct()


A4_ORACLE = "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"


def a5_topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/O1/O2: grouped count → global desc sort → limit k
    (reference notebook cells 11-13; top-10 busiest routes pattern).
    Tie-broken on the key for determinism; executes as TakeOrderedAndProject."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    counts = lineitem.groupBy("l_partkey").agg(
        F.count("*").alias("n_items"), dec_sum("l_quantity", "total_qty")
    )
    return counts.orderBy(F.desc("n_items"), F.asc("l_partkey")).limit(10)


A5_ORACLE = """
SELECT l_partkey, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS total_qty
FROM lineitem GROUP BY 1
ORDER BY n_items DESC, l_partkey ASC LIMIT 10
"""


def a7_grouped_dim_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: grouped aggregate feeding a dimension, with decimal casts and
    CASE-WHEN bucketing (reference dim_route.py:9-41 builds the route dim
    from a 6-key groupBy + avg distance + distance-band bucketing)."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    dim = lineitem.groupBy("l_suppkey").agg(
        F.count("*").alias("n_items"),
        # exact decimal accumulation, surfaced as double (decimal Python
        # objects stringify inconsistently across engines)
        F.sum(F.col("l_quantity").cast(MONEY)).cast("double").alias("total_qty"),
    )
    return dim.select(
        "*",
        F.when(F.col("n_items") >= 700, "HIGH")
        .when(F.col("n_items") >= 400, "MEDIUM")
        .otherwise("LOW")
        .alias("volume_band"),
    )


A7_ORACLE = """
SELECT l_suppkey, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS total_qty,
       CASE WHEN COUNT(*) >= 700 THEN 'HIGH'
            WHEN COUNT(*) >= 400 THEN 'MEDIUM'
            ELSE 'LOW' END AS volume_band
FROM lineitem GROUP BY 1
"""


def a8_describe_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: summary statistics (reference notebook cell 5,
    export_aggregates.py:75). Reimplements describe()'s count/mean/stddev/
    min/max as explicit aggregates with EXACT decimal moment accumulation —
    sum(x) and sum(x²) in decimal (order-independent), then mean/stddev as
    a fixed sequence of IEEE-double ops both engines evaluate identically.
    describe() itself is string-formatted and float-summed, so it can never
    hash-match a second engine; this formulation can, and is the same
    single-pass, mergeable shape at 100 TB."""
    orders = read_table(spark, sf_dir, "orders")
    n = F.count("*").cast("double")
    tp_sum = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
    tp_sumsq = F.sum(
        F.col("o_totalprice").cast("decimal(18,2)")
        * F.col("o_totalprice").cast("decimal(18,2)")
    ).cast("double")
    ck_sum = F.sum(F.col("o_custkey").cast("decimal(18,0)")).cast("double")
    ck_sumsq = F.sum(
        F.col("o_custkey").cast("decimal(18,0)")
        * F.col("o_custkey").cast("decimal(18,0)")
    ).cast("double")
    return orders.agg(
        F.count("*").alias("n_rows"),
        (tp_sum / n).alias("totalprice_mean"),
        F.sqrt((tp_sumsq - tp_sum * tp_sum / n) / (n - F.lit(1.0))).alias(
            "totalprice_std"
        ),
        F.min(F.col("o_totalprice").cast("double")).alias("totalprice_min"),
        F.max(F.col("o_totalprice").cast("double")).alias("totalprice_max"),
        (ck_sum / n).alias("custkey_mean"),
        F.sqrt((ck_sumsq - ck_sum * ck_sum / n) / (n - F.lit(1.0))).alias(
            "custkey_std"
        ),
        F.min("o_custkey").cast("bigint").alias("custkey_min"),
        F.max("o_custkey").cast("bigint").alias("custkey_max"),
    )


A8_ORACLE = """
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tp_sum,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tp_sumsq,
         CAST(SUM(CAST(o_custkey AS DECIMAL(18,0))) AS DOUBLE) AS ck_sum,
         CAST(SUM(CAST(o_custkey AS DECIMAL(18,0))
                  * CAST(o_custkey AS DECIMAL(18,0))) AS DOUBLE) AS ck_sumsq,
         MIN(CAST(o_totalprice AS DOUBLE)) AS totalprice_min,
         MAX(CAST(o_totalprice AS DOUBLE)) AS totalprice_max,
         CAST(MIN(o_custkey) AS BIGINT) AS custkey_min,
         CAST(MAX(o_custkey) AS BIGINT) AS custkey_max
  FROM orders
)
SELECT n_rows,
       tp_sum / n AS totalprice_mean,
       sqrt((tp_sumsq - tp_sum * tp_sum / n) / (n - 1.0)) AS totalprice_std,
       totalprice_min, totalprice_max,
       ck_sum / n AS custkey_mean,
       sqrt((ck_sumsq - ck_sum * ck_sum / n) / (n - 1.0)) AS custkey_std,
       custkey_min, custkey_max
FROM m
"""


def a9_rollup_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: hierarchical subtotals — one ROLLUP pass produces per-(segment,
    status) rows, per-segment subtotals, and the grand total in a single
    shuffle (the scale-path replacement for N separate mart groupBys)."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = orders.join(
        F.broadcast(customer),
        orders["o_custkey"] == customer["c_custkey"],
    )
    return rollup_agg(
        joined,
        ["c_mktsegment", "o_orderstatus"],
        [
            F.count("*").alias("n_orders"),
            dec_sum("o_totalprice", "revenue"),
            F.grouping_id().cast("bigint").alias("gid"),
        ],
    )


A9_ORACLE = """
SELECT c_mktsegment, o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
       CAST(GROUPING(c_mktsegment, o_orderstatus) AS BIGINT) AS gid
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY ROLLUP(c_mktsegment, o_orderstatus)
"""


def a10_cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: CUBE — all grouping subsets of (returnflag, linestatus) with
    exact-decimal measures, one shuffle (TPC-H Q1-shaped with subtotals).
    read_corpus: the Expand operator multiplies every input row by the
    number of grouping sets BEFORE the partial aggregate, so scan
    parallelism matters here (measured 3× on a single-split file) unlike
    the plain aggs above."""
    lineitem = read_corpus(spark, sf_dir, "lineitem")
    return cube_agg(
        lineitem,
        ["l_returnflag", "l_linestatus"],
        [
            F.count("*").alias("n_items"),
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_price"),
            F.grouping_id().cast("bigint").alias("gid"),
        ],
    )


A10_ORACLE = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
"""


def a11_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: exact percentile aggregates — linear-interpolation quartiles and
    median per return flag (bit-identical to SQL QUANTILE_CONT/MEDIAN; both
    engines compute lo + (hi-lo)*frac on doubles).

    r13 note: the driver-histogram rank-selection path (the a20/a23
    rewrite, operators/quantiles.py) was A/B-tested here and REJECTED —
    0.89 → 1.59 s isolated: this query is a single mild aggregate, and
    collecting the near-row-cardinality (flag, price, discount)
    histogram costs more than the percentile buffer it replaces."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    # ONE array-percentile aggregate (single sort/accumulate pass), then
    # flattened to scalar columns — three separate percentile() aggs would
    # each keep their own value buffer; the harness needs scalars because
    # array cells are unhashable in its canonicalizer
    agg = lineitem.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit([0.25, 0.5, 0.75])).alias("qs"),
        F.median("l_discount").alias("median_discount"),
        F.count("*").alias("n_items"),
    )
    return agg.select(
        "l_returnflag",
        F.col("qs")[0].alias("price_p25"),
        F.col("qs")[1].alias("price_p50"),
        F.col("qs")[2].alias("price_p75"),
        "median_discount",
        "n_items",
    )


A11_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.25) AS price_p25,
       quantile_cont(l_extendedprice, 0.5) AS price_p50,
       quantile_cont(l_extendedprice, 0.75) AS price_p75,
       median(l_discount) AS median_discount,
       COUNT(*) AS n_items
FROM lineitem GROUP BY l_returnflag
"""


def a13_pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: pivot (long→wide) — order counts per market segment spread
    across status columns. Values are enumerated explicitly: at scale an
    unenumerated pivot runs an extra distinct job AND risks millions of
    output columns; always pin the value list."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = orders.join(
        F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"]
    )
    wide = (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    # pivot emits NULL for absent combos; normalize to 0 like SQL CASE-sums
    return wide.select(
        "c_mktsegment",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_fulfilled"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_pending"),
    )


A13_ORACLE = """
SELECT c_mktsegment,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_fulfilled,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def a12_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: approximate sketch aggregates — HyperLogLog++ distinct counts
    and GK-sketch percentiles — ORACLE-CHECKED via exact companions. The
    sketch values themselves are implementation-defined (DuckDB's approx
    functions use different sketches), so the output emits (a) the exact
    aggregates both engines can compute, and (b) booleans asserting the
    sketches landed within their documented error bounds relative to the
    in-query exact companions (HLL rsd*3 sigma; GK values inside
    [min, max] and monotone across quantiles). The oracle reproduces the
    exact columns and asserts the booleans are TRUE — so a sketch drifting
    out of tolerance fails the value hash. Numeric error bounds are also
    unit-asserted in tests/test_operators.py::test_a12_sketch_error_bounds.

    Sketches remain the 100 TB path: memory-bounded, single-pass,
    mergeable — exact distinct over 10^12 keys is a full shuffle; HLL is a
    fixed 1.5 KB per group. The exact companions here are affordable
    because the group count is tiny; at the full scale you'd ship the
    sketch columns alone."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    # ONE GK sketch per group (array percentiles), flattened to scalars —
    # the harness canonicalizer hashes cell values and array cells are
    # unhashable in pandas; three separate sketches would triple the
    # aggregation state.
    # Sketches and exact DISTINCTs aggregate in SEPARATE groupBys joined
    # on the tiny group key: mixing them in one agg makes Catalyst expand
    # the input once per distinct column and re-evaluate the sketches on
    # every expanded copy (measured 13x slower than the two-pass plan)
    sketches = lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey", rsd=0.01).alias("approx_supps"),
        F.percentile_approx(
            "l_extendedprice", F.lit([0.5, 0.9, 0.99]), 10000
        ).alias("qs"),
        F.min("l_extendedprice").alias("price_min"),
        F.max("l_extendedprice").alias("price_max"),
        F.count("*").alias("n_items"),
    )
    exacts = lineitem.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
    )
    agg = sketches.join(exacts, "l_returnflag")

    def _within(approx, exact, rel):
        return (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= F.lit(rel) * exact.cast("double")
        )

    return agg.select(
        "l_returnflag",
        "n_parts",
        "n_supps",
        "n_items",
        # default HLL rsd = 0.05 -> 3 sigma = 15%; explicit rsd=0.01 -> 3%
        _within(F.col("approx_parts"), F.col("n_parts"), 0.15).alias("parts_sketch_ok"),
        _within(F.col("approx_supps"), F.col("n_supps"), 0.03).alias("supps_sketch_ok"),
        (
            (F.col("qs")[0] >= F.col("price_min"))
            & (F.col("qs")[0] <= F.col("qs")[1])
            & (F.col("qs")[1] <= F.col("qs")[2])
            & (F.col("qs")[2] <= F.col("price_max"))
        ).alias("quantiles_sketch_ok"),
    )


A12_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_items,
       TRUE AS parts_sketch_ok,
       TRUE AS supps_sketch_ok,
       TRUE AS quantiles_sketch_ok
FROM lineitem GROUP BY l_returnflag
"""


def a14_unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 (extension): unpivot (wide-to-long melt) — the inverse of A13.
    ``DataFrame.unpivot`` expands columns to rows JVM-side (Expand node,
    no Python); at scale it multiplies row count by the value-column
    count, so unpivot AFTER aggregation (as here), never before."""
    wide = a13_pivot_status_by_segment(spark, sf_dir)
    return wide.unpivot(
        ["c_mktsegment"],
        ["n_fulfilled", "n_open", "n_pending"],
        "status_col",
        "n_orders",
    )


A14_ORACLE = f"""
WITH wide AS ({A13_ORACLE})
SELECT c_mktsegment, 'n_fulfilled' AS status_col, n_fulfilled AS n_orders FROM wide
UNION ALL
SELECT c_mktsegment, 'n_open', n_open FROM wide
UNION ALL
SELECT c_mktsegment, 'n_pending', n_pending FROM wide
"""


def a15_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 (extension): explicit GROUPING SETS — a non-hierarchical set
    list ((returnflag, linestatus), (linestatus)) that neither rollup nor
    cube expresses. Same single-pass Expand+HashAggregate physical shape
    as rollup/cube; GROUPING() ids disambiguate the NULL produced by the
    expansion from a NULL in the data."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_linestatus"]],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count("*").alias("n_items"),
            dec_sum("l_quantity", "sum_qty"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


A15_ORACLE = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))
"""


def a16_collection_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 (extension): collection aggregates — collect_set sorted to a
    canonical string (collect_list/set order is partition-dependent, so
    the deterministic form is sort-then-join; the same discipline a
    feature-store pipeline needs), plus max_by keyed on a UNIQUE column
    (argmax is only well-defined under a tie-free key)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderpriority")), "|"
        ).alias("priorities"),
        F.min("o_orderkey").alias("first_key"),
        F.max_by("o_orderpriority", "o_orderkey").alias("latest_priority"),
        F.count("*").alias("n"),
    )


A16_ORACLE = """
SELECT o_orderstatus,
       array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS priorities,
       MIN(o_orderkey) AS first_key,
       arg_max(o_orderpriority, o_orderkey) AS latest_priority,
       COUNT(*) AS n
FROM orders GROUP BY o_orderstatus
"""


def a17_bitwise_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 (extension): bitwise and boolean aggregates — bit_or/bit_and/
    bit_xor (order-free integer folds, safe cross-engine) and
    bool_and/bool_or predicates per group."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.bit_or("l_linenumber").cast("bigint").alias("ln_or"),
        F.bit_and("l_linenumber").cast("bigint").alias("ln_and"),
        F.bit_xor("l_linenumber").cast("bigint").alias("ln_xor"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_discount") > 0.05).alias("any_big_discount"),
    )


A17_ORACLE = """
SELECT l_returnflag,
       CAST(bit_or(l_linenumber) AS BIGINT) AS ln_or,
       CAST(bit_and(l_linenumber) AS BIGINT) AS ln_and,
       CAST(bit_xor(l_linenumber) AS BIGINT) AS ln_xor,
       bool_and(l_quantity > 0) AS all_positive_qty,
       bool_or(l_discount > 0.05) AS any_big_discount
FROM lineitem GROUP BY l_returnflag
"""


def a18_stat_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 (extension): correlation / covariance / stddev via EXACT
    decimal moment accumulation — sum(x), sum(y), sum(x²), sum(y²),
    sum(xy) in DECIMAL (order-independent under parallel merge), then the
    closed-form double arithmetic both engines evaluate identically.
    Spark's built-in corr()/covar_samp() are float-merge aggregates whose
    results depend on partition merge order — this formulation is the
    same single-pass mergeable shape but bit-stable, and it is how you
    get deterministic statistics out of a 1000-executor job."""
    li = read_table(spark, sf_dir, "lineitem")
    # r13 (guide §2.5 — the a21 fix): the decimal moment partials ran on
    # the single scan task; key-hash repartition of the three needed
    # columns spreads the BigDecimal math. Decimal sums are exact and
    # order-insensitive. A/B 0.98 -> 0.53 s at sf0.1. r14 (ADVICE): the
    # repartition is gated on scan parallelism — a multi-split table at
    # scale keeps map-side partials and skips the full-data exchange.
    li = spread_scan(
        li.select("l_returnflag", "l_quantity", "l_extendedprice"),
        F.col("l_extendedprice"),
        table_path=f"{sf_dir}/lineitem.parquet",
    )
    x = F.col("l_quantity").cast(MONEY)
    y = F.col("l_extendedprice").cast(MONEY)
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return agg.select(
        "l_returnflag",
        "n_rows",
        ((n * sxy - sx * sy)
         / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)))
        .alias("qty_price_corr"),
        ((sxy - sx * sy / n) / (n - F.lit(1.0))).alias("qty_price_covar"),
        F.sqrt((sxx - sx * sx / n) / (n - F.lit(1.0))).alias("qty_std"),
        F.sqrt((syy - sy * sy / n) / (n - F.lit(1.0))).alias("price_std"),
    )


# moment sums are routed DECIMAL -> VARCHAR -> DOUBLE: DuckDB's direct
# decimal->double cast double-rounds (int128 / 10^scale in float), which
# is 1 ulp off the correctly-rounded value once the sum exceeds 2^53;
# parsing the exact decimal string is correctly rounded in both engines
# and bit-matches Spark's BigDecimal.doubleValue()
A18_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n_rows,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n_rows,
       (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS qty_price_corr,
       (sxy - sx * sy / n) / (n - 1.0) AS qty_price_covar,
       sqrt((sxx - sx * sx / n) / (n - 1.0)) AS qty_std,
       sqrt((syy - sy * sy / n) / (n - 1.0)) AS price_std
FROM m
"""


HIST_BUCKETS = 8


def a20_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20: equi-depth histogram build — the optimizer-statistics shape
    warehouses maintain per column: {HIST_BUCKETS} equal-frequency
    buckets of l_extendedprice per return flag, each with its row count
    and value range. Bucket BOUNDARIES come from one exact
    linear-interpolation percentile aggregate (the a11-proven bit-stable
    path), broadcast back so bucket assignment is a scan-local
    count-of-boundaries-below (no global sort, no ntile window funnel —
    a 100 TB column sorts nowhere).

    r13 (guide §1.1 / §5): the boundaries AND the bucket rollup are both
    pure functions of the (flag, price) → count histogram, so below the
    cap ONE full-codegen histogram aggregate feeds driver rank selection
    + vectorized bucket assignment (operators/quantiles.py) and the
    whole result is a bounded local relation; over the cap the previous
    percentile + broadcast-join + second-scan shape runs unchanged.
    Path equality (including NULL flags/values) is property-tested.

    Scale (fallback): one percentile aggregate (3 groups) + one
    broadcast join + one (flag × bucket) aggregate."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    fracs = [i / HIST_BUCKETS for i in range(1, HIST_BUCKETS)]
    tbl = collect_value_histogram(lineitem, ["l_returnflag"], ["l_extendedprice"])
    if tbl is None:
        return _a20_plan_side(lineitem, fracs)
    import numpy as np

    rows = []
    for key, vals, cnts, n_total in histogram_groups(
        tbl, ["l_returnflag"], "l_extendedprice"
    ):
        if key[0] is None:
            continue  # the bounds join key is the flag: NULL never matches
        n_null = n_total - int(cnts.sum())
        if vals.size == 0:
            # all-NULL group: bnds aggregate is NULL, size(filter(NULL)) = -1
            rows.append((key[0], -1, n_null, None, None))
            continue
        bnds = np.asarray(
            percentiles_from_counts(vals, cnts, fracs), dtype="float64"
        )
        # v > b over the nondecreasing bounds == count of bounds < v
        bucket = np.searchsorted(bnds, vals, side="left")
        by_bucket = {}
        for b in np.unique(bucket):
            m = bucket == b
            by_bucket[int(b)] = [
                int(cnts[m].sum()),
                float(vals[m].min()),
                float(vals[m].max()),
            ]
        if n_null:
            # NULL prices: filter predicate NULL -> empty array -> bucket 0,
            # counted but invisible to min/max
            by_bucket.setdefault(0, [0, None, None])[0] += n_null
        for b, (n_rows_, lo, hi) in by_bucket.items():
            rows.append((key[0], b, n_rows_, lo, hi))
    return spark.createDataFrame(
        rows,
        "l_returnflag string, bucket int, n_rows bigint, lo double, hi double",
    )


def _a20_plan_side(lineitem: DataFrame, fracs: list[float]) -> DataFrame:
    """a20's plan-side shape — the over-cap fallback (see a20's
    docstring)."""
    bounds = lineitem.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(fracs)).alias("bnds")
    )
    joined = lineitem.select("l_returnflag", "l_extendedprice").join(
        F.broadcast(bounds), "l_returnflag"
    )
    bucket = F.size(
        F.filter(F.col("bnds"), lambda b: F.col("l_extendedprice") > b)
    )
    return (
        joined.select(
            "l_returnflag",
            bucket.cast("int").alias("bucket"),
            "l_extendedprice",
        )
        .groupBy("l_returnflag", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
    )


def _equidepth_oracle() -> str:
    qs = ", ".join(
        f"quantile_cont(l_extendedprice, {i / HIST_BUCKETS})"
        for i in range(1, HIST_BUCKETS)
    )
    return f"""
WITH b AS (
  SELECT l_returnflag, [{qs}] AS bnds
  FROM lineitem GROUP BY l_returnflag
), assigned AS (
  SELECT l.l_returnflag,
         CAST(len(list_filter(b.bnds, x -> l.l_extendedprice > x)) AS INTEGER)
           AS bucket,
         l.l_extendedprice
  FROM lineitem l JOIN b USING (l_returnflag)
)
SELECT l_returnflag, bucket, CAST(count(*) AS BIGINT) AS n_rows,
       min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
FROM assigned GROUP BY 1, 2
"""


def a21_pearson_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21: Pearson correlation matrix over lineitem's numeric measures —
    pairwise r for (quantity, extendedprice, discount) per return flag,
    computed from EXACT decimal co-moments (the input doubles carry ≤2
    decimal places, so sums of x, x² and x·y are exact in DECIMAL(38,4) —
    order-insensitive under any parallelism) with the float algebra
    confined to the final r = (nΣxy − ΣxΣy) / (√(nΣxx−Σx²)·√(nΣyy−Σy²)),
    whose every op (×, −, ÷, correctly-rounded √) is deterministic and
    mirrored verbatim in the oracle. The built-in corr() accumulates
    float co-moments in partition order — NOT reproducible across
    engines or partitionings; this shape is.

    Scale: ONE aggregate pass over the scan; 9 decimal sums + a count
    per group."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    # r13 (guide §2.5 input skew — the q_table_stats fix): the partial
    # aggregate does 6 BigDecimal multiplies + 10 decimal sums per row,
    # all serialized on the one task a single-row-group file yields. One
    # key-hashed exchange of only the four needed columns moves the
    # decimal math onto every core; decimal sums are order-insensitive
    # so the result is bit-identical. Measured 2.18 -> 0.90 s at sf0.1.
    # r14 (ADVICE): gated on scan parallelism — no exchange at scale.
    lineitem = spread_scan(
        lineitem.select(
            "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
        ),
        F.col("l_extendedprice"),
        table_path=f"{sf_dir}/lineitem.parquet",
    )
    # inputs carry <=2 decimal places, so DECIMAL(18,2) is lossless and
    # products land in DECIMAL(37,4) without precision-loss rescaling
    dec = "decimal(38,4)"
    cols = {
        "q": F.col("l_quantity").cast("decimal(18,2)"),
        "p": F.col("l_extendedprice").cast("decimal(18,2)"),
        "d": F.col("l_discount").cast("decimal(18,2)"),
    }
    aggs = [F.count("*").cast("bigint").alias("n")]
    for k, c in cols.items():
        aggs.append(F.sum(c.cast(dec)).cast(dec).alias(f"s_{k}"))
        aggs.append(F.sum(c * c).cast(dec).alias(f"ss_{k}"))
    for a, b in (("q", "p"), ("q", "d"), ("p", "d")):
        aggs.append(F.sum(cols[a] * cols[b]).cast(dec).alias(f"sp_{a}{b}"))
    agg = lineitem.groupBy("l_returnflag").agg(*aggs)

    def d(name: str):
        # decimal -> double via the exact digit string: a direct cast
        # double-rounds in DuckDB for >2^53 unscaled values (int128 ->
        # double, then /10^scale) while Spark rounds once — the string
        # parse is correctly rounded on both engines
        return F.col(name).cast("string").cast("double")

    def r(a: str, b: str):
        n = F.col("n").cast("double")
        sa, sb = d(f"s_{a}"), d(f"s_{b}")
        ssa, ssb = d(f"ss_{a}"), d(f"ss_{b}")
        sab = d(f"sp_{a}{b}")
        return (n * sab - sa * sb) / (
            F.sqrt(n * ssa - sa * sa) * F.sqrt(n * ssb - sb * sb)
        )

    return agg.select(
        "l_returnflag",
        "n",
        r("q", "p").alias("corr_qty_price"),
        r("q", "d").alias("corr_qty_disc"),
        r("p", "d").alias("corr_price_disc"),
    )


A21_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS s_q,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_q,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS s_p,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_p,
         CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS s_d,
         CAST(sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_d,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS sp_qp,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS sp_qd,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS sp_pd
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
  (CAST(n AS DOUBLE) * CAST(CAST(sp_qp AS VARCHAR) AS DOUBLE) - CAST(CAST(s_q AS VARCHAR) AS DOUBLE) * CAST(CAST(s_p AS VARCHAR) AS DOUBLE))
    / (sqrt(CAST(n AS DOUBLE) * CAST(CAST(ss_q AS VARCHAR) AS DOUBLE) - CAST(CAST(s_q AS VARCHAR) AS DOUBLE) * CAST(CAST(s_q AS VARCHAR) AS DOUBLE))
       * sqrt(CAST(n AS DOUBLE) * CAST(CAST(ss_p AS VARCHAR) AS DOUBLE) - CAST(CAST(s_p AS VARCHAR) AS DOUBLE) * CAST(CAST(s_p AS VARCHAR) AS DOUBLE)))
    AS corr_qty_price,
  (CAST(n AS DOUBLE) * CAST(CAST(sp_qd AS VARCHAR) AS DOUBLE) - CAST(CAST(s_q AS VARCHAR) AS DOUBLE) * CAST(CAST(s_d AS VARCHAR) AS DOUBLE))
    / (sqrt(CAST(n AS DOUBLE) * CAST(CAST(ss_q AS VARCHAR) AS DOUBLE) - CAST(CAST(s_q AS VARCHAR) AS DOUBLE) * CAST(CAST(s_q AS VARCHAR) AS DOUBLE))
       * sqrt(CAST(n AS DOUBLE) * CAST(CAST(ss_d AS VARCHAR) AS DOUBLE) - CAST(CAST(s_d AS VARCHAR) AS DOUBLE) * CAST(CAST(s_d AS VARCHAR) AS DOUBLE)))
    AS corr_qty_disc,
  (CAST(n AS DOUBLE) * CAST(CAST(sp_pd AS VARCHAR) AS DOUBLE) - CAST(CAST(s_p AS VARCHAR) AS DOUBLE) * CAST(CAST(s_d AS VARCHAR) AS DOUBLE))
    / (sqrt(CAST(n AS DOUBLE) * CAST(CAST(ss_p AS VARCHAR) AS DOUBLE) - CAST(CAST(s_p AS VARCHAR) AS DOUBLE) * CAST(CAST(s_p AS VARCHAR) AS DOUBLE))
       * sqrt(CAST(n AS DOUBLE) * CAST(CAST(ss_d AS VARCHAR) AS DOUBLE) - CAST(CAST(s_d AS VARCHAR) AS DOUBLE) * CAST(CAST(s_d AS VARCHAR) AS DOUBLE)))
    AS corr_price_disc
FROM m
"""


def a22_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22: frequent-pair mining (market-basket lift) — for every pair
    of parts appearing in the same order, the co-occurrence count,
    support and lift vs independence. Pair generation happens INSIDE the
    per-order array (sorted distinct items → nested-transform pair
    expansion, O(k²) with basket-sized k) — no self-join of the line
    table, so the only shuffles are the order-key collect and the tiny
    (a, b) count aggregate. Counts are exact bigints; support and lift
    are single double divisions — bit-stable.

    Scale: basket arrays are order-sized; a degenerate 10⁶-item basket
    would need the self-join form — guard with a basket-size cap
    upstream. Item totals join broadcast; the corpus total rides a 1-row
    broadcast aggregate."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    # r13 (guide §2.5 + §2.4): key-hash repartition moves the collect_set
    # partials off the single scan task, and the basket table is
    # localCheckpointed once for its THREE consumers (pair explode, item
    # counts, order total) instead of re-aggregating per consumer.
    # Interleaved A/B 1.41 -> 1.23 s at sf0.1, consistent across reps.
    baskets = (
        lineitem.select("l_orderkey", "l_partkey")
        .repartition(spark.sparkContext.defaultParallelism, F.col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
        .localCheckpoint()
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("items"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("items"),
                            i + 2,
                            F.greatest(F.size("items") - i - 1, F.lit(0)),
                        ),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.a").alias("part_a"), F.col("p.b").alias("part_b"))
    pair_counts = pairs.groupBy("part_a", "part_b").agg(
        F.count("*").cast("bigint").alias("n_both")
    )
    item_counts = baskets.select(
        F.explode("items").alias("part")
    ).groupBy("part").agg(F.count("*").cast("bigint").alias("n_item"))
    totals = baskets.agg(F.count("*").cast("bigint").alias("n_orders"))
    joined = (
        pair_counts.filter(F.col("n_both") >= 2)
        .join(
            item_counts.select(
                F.col("part").alias("part_a"), F.col("n_item").alias("n_a")
            ),
            "part_a",
        )
        .join(
            item_counts.select(
                F.col("part").alias("part_b"), F.col("n_item").alias("n_b")
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(totals))
    )
    return joined.select(
        "part_a",
        "part_b",
        "n_both",
        "n_a",
        "n_b",
        (F.col("n_both").cast("double") / F.col("n_orders").cast("double")).alias(
            "support"
        ),
        (
            (F.col("n_both") * F.col("n_orders")).cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double")
        ).alias("lift"),
    )


A22_ORACLE = """
WITH baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS items
  FROM lineitem GROUP BY 1
), pairs AS (
  SELECT a.part AS part_a, b.part AS part_b
  FROM (SELECT l_orderkey, unnest(items) AS part FROM baskets) a
  JOIN (SELECT l_orderkey, unnest(items) AS part FROM baskets) b
    ON a.l_orderkey = b.l_orderkey AND a.part < b.part
), pc AS (
  SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_both
  FROM pairs GROUP BY 1, 2 HAVING count(*) >= 2
), ic AS (
  SELECT part, CAST(count(*) AS BIGINT) AS n_item
  FROM (SELECT l_orderkey, unnest(items) AS part FROM baskets) GROUP BY 1
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_orders FROM baskets)
SELECT part_a, part_b, n_both,
       ia.n_item AS n_a, ib.n_item AS n_b,
       CAST(n_both AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
       CAST(n_both * n_orders AS DOUBLE)
         / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
FROM pc
JOIN ic ia ON pc.part_a = ia.part
JOIN ic ib ON pc.part_b = ib.part, tot
"""


def a23_mad_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23: median absolute deviation — the robust dispersion measure
    (immune to the outliers that blow up stddev) per return flag:
    MAD = median(|x − median(x)|), in two exact interpolated-percentile
    passes (the a11-proven bit-stable path) with the group median
    broadcast between them.

    r13 (guide §1.1 / §5): BOTH medians are pure functions of the
    (flag, price) → count histogram — the deviation multiset is just
    |v − med| over the same distinct values — so below the cap ONE
    full-codegen histogram aggregate replaces the two whole-column
    percentile buffers AND the second scan; rank selection + the
    |v − med| fold run vectorized on the driver (operators/quantiles.py,
    formula bit-equal to percentile(), property-pinned). Over the cap
    the previous two-pass shape runs unchanged.

    Scale (fallback): two 3-row aggregates + one broadcast join — the
    scan runs twice (medians are holistic; a one-pass variant would
    switch to the a12 sketch family and lose exactness)."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    tbl = collect_value_histogram(lineitem, ["l_returnflag"], ["l_extendedprice"])
    if tbl is None:
        return _a23_plan_side(lineitem)
    import numpy as np

    rows = []
    for key, vals, cnts, n_total in histogram_groups(
        tbl, ["l_returnflag"], "l_extendedprice"
    ):
        if key[0] is None:
            continue  # the med join key is the flag: NULL never matches
        med = percentiles_from_counts(vals, cnts, [0.5])[0]
        mad = (
            None
            if med is None
            else percentiles_from_counts(np.abs(vals - med), cnts, [0.5])[0]
        )
        rows.append((key[0], n_total, med, mad))
    return spark.createDataFrame(
        rows,
        "l_returnflag string, n_items bigint, med_price double, mad_price double",
    )


def _a23_plan_side(lineitem: DataFrame) -> DataFrame:
    """a23's plan-side shape — the over-cap fallback (see a23's
    docstring)."""
    med = lineitem.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("med_price")
    )
    joined = lineitem.select("l_returnflag", "l_extendedprice").join(
        F.broadcast(med), "l_returnflag"
    )
    dev = F.abs(F.col("l_extendedprice") - F.col("med_price"))
    return joined.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.first("med_price").alias("med_price"),
        F.percentile(dev, F.lit(0.5)).alias("mad_price"),
    )


A23_ORACLE = """
WITH med AS (
  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med_price
  FROM lineitem GROUP BY 1
)
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       any_value(med_price) AS med_price,
       quantile_cont(abs(l_extendedprice - med_price), 0.5) AS mad_price
FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
GROUP BY l.l_returnflag
"""


def a26_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A26: chi-square independence test cells — observed vs expected
    counts for the customer-segment × order-status contingency table,
    with each cell's (O−E)²/E contribution: the categorical-drift /
    association test behind "did the status mix shift by segment".
    All counts exact BIGINTs; E and the χ² term are pointwise double
    arithmetic — bit-stable with no ordered float summation anywhere
    (the global χ² is the reader's one-line sum; cells are the
    auditable artifact).

    Scale: one cells aggregate (segment×status cardinality) + two tiny
    marginal aggregates broadcast back."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    base = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    cells = base.groupBy("c_mktsegment", "o_orderstatus").agg(
        F.count("*").cast("bigint").alias("observed")
    )
    row_m = cells.groupBy("c_mktsegment").agg(
        F.sum("observed").cast("bigint").alias("row_tot")
    )
    col_m = cells.groupBy("o_orderstatus").agg(
        F.sum("observed").cast("bigint").alias("col_tot")
    )
    tot = cells.agg(F.sum("observed").cast("bigint").alias("total"))
    expected = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("total").cast("double")
    )
    o = F.col("observed").cast("double")
    return (
        cells.join(F.broadcast(row_m), "c_mktsegment")
        .join(F.broadcast(col_m), "o_orderstatus")
        .crossJoin(F.broadcast(tot))
        .select(
            "c_mktsegment",
            "o_orderstatus",
            "observed",
            expected.alias("expected"),
            ((o - expected) * (o - expected) / expected).alias("chi2_term"),
        )
    )


A26_ORACLE = """
WITH cells AS (
  SELECT c_mktsegment, o_orderstatus, CAST(count(*) AS BIGINT) AS observed
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), rm AS (
  SELECT c_mktsegment, CAST(sum(observed) AS BIGINT) AS row_tot
  FROM cells GROUP BY 1
), cm AS (
  SELECT o_orderstatus, CAST(sum(observed) AS BIGINT) AS col_tot
  FROM cells GROUP BY 1
), t AS (SELECT CAST(sum(observed) AS BIGINT) AS total FROM cells)
SELECT c.c_mktsegment, c.o_orderstatus, c.observed,
       CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
         / CAST(total AS DOUBLE) AS expected,
       (CAST(observed AS DOUBLE)
        - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
          / CAST(total AS DOUBLE))
       * (CAST(observed AS DOUBLE)
          - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
            / CAST(total AS DOUBLE))
       / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
          / CAST(total AS DOUBLE)) AS chi2_term
FROM cells c JOIN rm USING (c_mktsegment) JOIN cm USING (o_orderstatus), t
"""


BOOT_B = 32


BOOT_WMOD = 4


def a27_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A27: deterministic bootstrap confidence interval for the mean
    order value — {BOOT_B} hash-weighted replicates (integer weights
    hash(id, b) mod {BOOT_WMOD}; a weighted mean is unbiased for the
    mean under any iid weight scale), each replicate mean computed from
    EXACT integer cents sums, then the CI read off the sorted replicate
    array: metric uncertainty without randomness — rerun the job
    anywhere, get the same interval. The estimator every KPI dashboard
    should ship next to its point estimate.

    Scale: one {BOOT_B}-way fan-out over the scan (map-side combined
    into {BOOT_B} groups), then a {BOOT_B}-row sort in one task."""
    orders = read_table(spark, sf_dir, "orders")
    # weight = ((key·A + b·B) mod P) mod 4 — the prime modulus mixes the
    # multiplier's high bits down so the final mod-4 isn't a low-bit
    # artifact; an md5-derived weight measured 3.5 s of pure hashing on
    # the 32-way fan-out (48M rows at sf0.1) for no statistical gain
    # r13 (guide §2.5 — the advisor fix): hash-repartition the two needed
    # columns BEFORE the 32-way explode so the fan-out + weight hashing
    # run at full parallelism instead of on the single scan task.
    # Interleaved A/B 1.23 -> 0.47 s at sf0.1; weights are a pure
    # function of (o_orderkey, b), so partitioning cannot change them.
    # r14 (ADVICE): gated on scan parallelism — no exchange at scale.
    reps = spread_scan(
        orders.select(
            "o_orderkey",
            (F.col("o_totalprice").cast(MONEY) * 100).cast("long").alias("cents"),
        ),
        F.col("o_orderkey"),
        table_path=f"{sf_dir}/orders.parquet",
    ).select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    ).select(
        "b",
        "cents",
        F.pmod(
            F.pmod(
                F.col("o_orderkey") * F.lit(2654435761)
                + F.col("b") * F.lit(40503),
                F.lit(1000003),
            ),
            F.lit(BOOT_WMOD),
        ).alias("w"),
    )
    means = reps.groupBy("b").agg(
        (
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / (F.sum("w").cast("double") * 100.0)
        ).alias("m")
    )
    packed = means.agg(F.array_sort(F.collect_list("m")).alias("ms"))
    lo_i, hi_i = 2, BOOT_B - 1  # ~2.5% / ~97.5% of 32
    med = BOOT_B // 2
    return packed.select(
        F.lit(BOOT_B).cast("long").alias("n_replicates"),
        F.element_at("ms", lo_i).alias("ci_lo"),
        ((F.element_at("ms", med) + F.element_at("ms", med + 1)) / 2.0).alias(
            "median_replicate"
        ),
        F.element_at("ms", hi_i).alias("ci_hi"),
    )


A27_ORACLE = f"""
WITH reps AS (
  SELECT b.b, CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT)
           AS cents,
         ((o_orderkey * 2654435761 + b.b * 40503) % 1000003) % {BOOT_WMOD} AS w
  FROM orders, (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS b) b
), means AS (
  SELECT b, CAST(sum(w * cents) AS DOUBLE)
              / (CAST(sum(w) AS DOUBLE) * 100.0) AS m
  FROM reps GROUP BY b
), packed AS (SELECT list(m ORDER BY m) AS ms FROM means)
SELECT CAST({BOOT_B} AS BIGINT) AS n_replicates,
       ms[2] AS ci_lo,
       (ms[{BOOT_B // 2}] + ms[{BOOT_B // 2 + 1}]) / 2.0 AS median_replicate,
       ms[{BOOT_B - 1}] AS ci_hi
FROM packed
"""


def a25_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A25: market-concentration audit — Herfindahl–Hirschman index of
    supplier revenue share within each nation, plus the equivalent
    effective competitor count 1/HHI: the concentration rollup a
    procurement / marketplace-health dashboard reports. Supplier
    revenues accumulate in exact DECIMAL (order-independent); shares are
    pointwise double divisions; the Σ share² fold runs in sorted
    supplier order — bit-stable and mirrored by the oracle's ordered
    list_sum.

    Scale: one lineitem shuffle on l_suppkey (map-side combined), a
    broadcast supplier-dim join, then a nation-cardinality aggregate;
    the per-nation share fold is supplier-count-sized (use the
    g1-style salted two-level fold if a 'nation' ever holds millions of
    suppliers)."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sup = lineitem.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast(MONEY)).alias("rev_dec")
    )
    j = sup.join(F.broadcast(supplier), sup.l_suppkey == supplier.s_suppkey)
    nat = j.groupBy("s_nationkey").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.sum("rev_dec").alias("tot_dec"),
        F.array_sort(
            F.collect_list(
                F.struct(F.col("s_suppkey").alias("k"), F.col("rev_dec").alias("r"))
            )
        ).alias("revs"),
    )
    hhi = F.aggregate(
        F.transform(
            F.col("revs"),
            lambda x: x["r"].cast("double") / F.col("tot_dec").cast("double"),
        ),
        F.lit(0.0),
        lambda acc, s: acc + s * s,
    )
    return (
        nat.join(F.broadcast(nation), nat.s_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            "n_suppliers",
            F.col("tot_dec").cast("double").alias("total_rev"),
            hhi.alias("hhi"),
            (F.lit(1.0) / hhi).alias("effective_n"),
        )
    )


A25_ORACLE = """
WITH sup AS (
  SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS rev_dec
  FROM lineitem GROUP BY 1
), j AS (
  SELECT s_nationkey, s_suppkey, rev_dec FROM sup
  JOIN supplier ON l_suppkey = s_suppkey
), shares AS (
  SELECT s_nationkey, s_suppkey, rev_dec,
         sum(rev_dec) OVER (PARTITION BY s_nationkey) AS tot_dec
  FROM j
), nat AS (
  SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
         any_value(tot_dec) AS tot_dec,
         list_sum(list(
           (CAST(rev_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE))
           * (CAST(rev_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE))
           ORDER BY s_suppkey)) AS hhi
  FROM shares GROUP BY s_nationkey
)
SELECT n_name, n_suppliers, CAST(tot_dec AS DOUBLE) AS total_rev, hhi,
       1.0 / hhi AS effective_n
FROM nat JOIN nation ON s_nationkey = n_nationkey
"""


def a24_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24: Theil–Sen robust trend estimator — the median of all
    pairwise slopes of monthly revenue per region: the outlier-immune
    alternative to least-squares trend (one wild month cannot move it),
    standard in SLA/seasonality drift reports. Monthly revenues
    accumulate in exact DECIMAL; pairwise slopes expand INSIDE the
    per-region month array (months² ≈ 80² pairs — array work, not a
    join); the median picks exact order statistics (even count → mean
    of the two middles, identically on both engines).

    Scale: the series is (region × month)-sized — tiny forever; the
    only real shuffle is the orders aggregate. A per-key series too
    long for O(n²) pairs needs the sampled Theil–Sen variant (pair
    subsampling by hash gate) — same plan shape."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    region = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    monthly = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            "r_name",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
        )
        .agg(F.sum(F.col("o_totalprice").cast(MONEY)).alias("rev_dec"))
    )
    per_region = monthly.groupBy("r_name").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("m"), F.col("rev_dec").cast("double").alias("r"))
            )
        ).alias("pts")
    )
    n = F.size("pts")
    # i ranges 1..n-1, j ranges i+1..n: both sequences are guaranteed
    # ascending (sequence(a, b) with a > b would generate DESCENDING)
    slopes = F.when(
        n >= 2,
        F.array_sort(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, n),
                        lambda j: (
                            F.element_at("pts", j)["r"]
                            - F.element_at("pts", i)["r"]
                        )
                        / (
                            F.element_at("pts", j)["m"]
                            - F.element_at("pts", i)["m"]
                        ).cast("double"),
                    ),
                )
            )
        ),
    ).otherwise(F.expr("array()").cast("array<double>"))
    m = F.size(slopes)
    return per_region.select(
        "r_name",
        n.cast("long").alias("n_months"),
        m.cast("long").alias("n_pairs"),
        F.when(
            m % 2 == 1,
            F.element_at(slopes, ((m + 1) / 2).cast("int")),
        )
        .otherwise(
            (
                F.element_at(slopes, (m / 2).cast("int"))
                + F.element_at(slopes, (m / 2 + 1).cast("int"))
            )
            / 2.0
        )
        .alias("ts_slope"),
    )


A24_ORACLE = """
WITH monthly AS (
  SELECT r_name, year(o_orderdate) * 12 + month(o_orderdate) AS m,
         SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS rev_dec
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
), pairs AS (
  SELECT a.r_name,
         (CAST(b.rev_dec AS DOUBLE) - CAST(a.rev_dec AS DOUBLE))
           / CAST(b.m - a.m AS DOUBLE) AS slope
  FROM monthly a JOIN monthly b
    ON a.r_name = b.r_name AND b.m > a.m
), sl AS (
  SELECT r_name, list(slope ORDER BY slope) AS slopes
  FROM pairs GROUP BY r_name
), meta AS (
  SELECT r_name, count(*) AS n_months FROM monthly GROUP BY 1
)
SELECT m.r_name, CAST(m.n_months AS BIGINT) AS n_months,
       CAST(len(slopes) AS BIGINT) AS n_pairs,
       CASE WHEN len(slopes) % 2 = 1
            THEN slopes[(len(slopes) + 1) // 2]
            ELSE (slopes[len(slopes) // 2] + slopes[len(slopes) // 2 + 1]) / 2.0
       END AS ts_slope
FROM meta m JOIN sl USING (r_name)
"""


def a28_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A28 (extension): pointwise mutual information between two
    categorical columns — the dependence measure feature stores run to
    find redundant/leaky features (chi-square's a26 sibling reporting
    DIRECTION and strength per cell, in nats). One row per
    (status, priority) cell with its observed count, expected count
    under independence, PMI = ln(N·n_sp / (n_s·n_p)) and the cell's MI
    contribution (n_sp/N)·PMI.

    Per-cell outputs only — the MI TOTAL would sum doubles in parallel
    (order-dependent); readers sum the 15 cells client-side if they
    want the scalar. All inputs to the float math are exact BIGINTs,
    so every row is bit-deterministic.

    Scale: one contingency groupBy + two broadcast marginal joins; the
    cell table is |dom(A)|·|dom(B)| — tiny by construction."""
    orders = read_table(spark, sf_dir, "orders")
    cells = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_cell")
    )
    row_m = orders.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_status")
    )
    col_m = orders.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_priority")
    )
    total = orders.agg(F.count("*").cast("bigint").alias("n_total"))
    joined = (
        cells.join(F.broadcast(row_m), "o_orderstatus")
        .join(F.broadcast(col_m), "o_orderpriority")
        .crossJoin(F.broadcast(total))
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    pmi = F.log(
        dbl("n_total") * dbl("n_cell") / (dbl("n_status") * dbl("n_priority"))
    )
    return joined.select(
        "o_orderstatus",
        "o_orderpriority",
        "n_cell",
        (dbl("n_status") * dbl("n_priority") / dbl("n_total")).alias("expected"),
        pmi.alias("pmi"),
        ((dbl("n_cell") / dbl("n_total")) * pmi).alias("mi_term"),
    )


A28_ORACLE = """
WITH cells AS (
  SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n_cell
  FROM orders GROUP BY 1, 2
), rm AS (
  SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_status
  FROM orders GROUP BY 1
), cm AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_priority
  FROM orders GROUP BY 1
), t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM orders)
SELECT c.o_orderstatus, c.o_orderpriority, c.n_cell,
       CAST(n_status AS DOUBLE) * CAST(n_priority AS DOUBLE)
         / CAST(n_total AS DOUBLE) AS expected,
       ln(CAST(n_total AS DOUBLE) * CAST(n_cell AS DOUBLE)
          / (CAST(n_status AS DOUBLE) * CAST(n_priority AS DOUBLE))) AS pmi,
       (CAST(n_cell AS DOUBLE) / CAST(n_total AS DOUBLE))
         * ln(CAST(n_total AS DOUBLE) * CAST(n_cell AS DOUBLE)
              / (CAST(n_status AS DOUBLE) * CAST(n_priority AS DOUBLE)))
         AS mi_term
FROM cells c JOIN rm USING (o_orderstatus) JOIN cm USING (o_orderpriority)
CROSS JOIN t
"""


def a29_nation_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A29 (extension): Lorenz curve + Gini coefficient of revenue
    concentration across nations — the inequality rollup that
    complements a25's HHI (HHI weights the head; Gini reads the whole
    distribution). Revenue per nation is an exact DECIMAL sum
    (orders ⋈ customer ⋈ nation, both dims broadcast); nations are
    ranked ascending by (revenue, name) — a total order — and
    G = (2·Σ rank·xᵢ)/(n·Σx) − (n+1)/n is computed from exact decimal
    sums with the float ops confined to the final expression (same
    discipline as a21/w19). One Lorenz row per nation plus the shared
    gini value.

    Scale: the ranking window runs over the 25-row AGGREGATE, never
    the fact table."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    dec = "decimal(38,4)"
    rev = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("revenue")
        )
    )
    w = W.orderBy("revenue", "n_name")
    ranked = rev.withColumn("rank", F.row_number().over(w).cast("bigint"))
    totals = ranked.agg(
        F.count("*").cast("bigint").alias("n_nations"),
        F.sum(F.col("revenue").cast(dec)).cast(dec).alias("s_rev"),
        F.sum(F.col("rank") * F.col("revenue")).cast(dec).alias("s_rank_rev"),
    )

    def d(name: str):
        return F.col(name).cast("string").cast("double")

    n = F.col("n_nations").cast("double")
    gini = (2.0 * d("s_rank_rev")) / (n * d("s_rev")) - (n + 1.0) / n
    cum = (
        F.sum(F.col("revenue").cast(dec))
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast(dec)
    )
    return (
        ranked.withColumn("cum_revenue", cum)
        .crossJoin(F.broadcast(totals))
        .select(
            "rank",
            "n_name",
            F.col("revenue").cast("string").cast("double").alias("revenue"),
            (F.col("cum_revenue").cast("string").cast("double") / d("s_rev")).alias(
                "cum_share"
            ),
            gini.alias("gini"),
        )
    )


A29_ORACLE = """
WITH rev AS (
  SELECT n_name,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1
), ranked AS (
  SELECT n_name, revenue,
         CAST(ROW_NUMBER() OVER (ORDER BY revenue, n_name) AS BIGINT) AS rank,
         CAST(sum(CAST(revenue AS DECIMAL(38,4)))
                OVER (ORDER BY revenue, n_name
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DECIMAL(38,4)) AS cum_revenue
  FROM rev
), totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nations,
         CAST(sum(CAST(revenue AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS s_rev,
         CAST(sum(rank * revenue) AS DECIMAL(38,4)) AS s_rank_rev
  FROM ranked
)
SELECT rank, n_name,
       CAST(CAST(revenue AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(CAST(cum_revenue AS VARCHAR) AS DOUBLE)
         / CAST(CAST(s_rev AS VARCHAR) AS DOUBLE) AS cum_share,
       (2.0 * CAST(CAST(s_rank_rev AS VARCHAR) AS DOUBLE))
         / (CAST(n_nations AS DOUBLE) * CAST(CAST(s_rev AS VARCHAR) AS DOUBLE))
         - (CAST(n_nations AS DOUBLE) + 1.0) / CAST(n_nations AS DOUBLE)
         AS gini
FROM ranked CROSS JOIN totals
"""


def a30_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A30 (extension): exact WEIGHTED median — the price point at which
    half the shipped QUANTITY (not half the line items) sits below, per
    return flag: the volume-weighted central price a revenue analyst
    actually wants (plain median over rows lets one 1-unit line count as
    much as a 50-unit line). Definition: smallest price p with
    2·W(≤p) ≥ W_total — the lower weighted median, resolved entirely in
    exact DECIMAL weight arithmetic, so no float comparison ever decides
    the cut.

    Scale: one (flag, price) pre-aggregate shrinks the window input to
    distinct prices; the cumulative-weight window partitions by flag
    (never a global single partition) but its parallelism IS the flag
    cardinality — with few groups and many distinct values the 100 TB
    path is two-phase bucket refinement (coarse price-bucket cumulative
    finds the median bucket, then only that bucket's rows resolve the
    exact cut — the a20 equi-depth broadcast-back pattern); at this
    catalog's group counts the direct window wins on job count.

    r13 (guide §1.1 / §5, the a20/a23 pattern): below the histogram cap
    the cumulative-weight selection resolves ON THE DRIVER from the
    (flag, price) → weight-cents histogram — weights stay exact int64
    cents end-to-end (an explicit abs-sum guard falls back to the
    window path before the cumulative could wrap int64 — the cap bounds
    distinct prices, not row count), the decimal→string→double surface
    formats the cents directly, and Spark's NULLS-FIRST ascending order
    is replicated so a NULL price's weight still enters the cumulative
    before every real price. Over the cap the window shape below runs
    unchanged; path equality is property-tested including NULL prices."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    per_price = lineitem.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("w")
    )
    driver = _a30_driver_select(spark, per_price)
    if driver is not None:
        return driver
    win = (
        W.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = per_price.withColumn(
        "cumw", F.sum("w").over(win).cast("decimal(38,2)")
    )
    tot = per_price.groupBy("l_returnflag").agg(
        F.sum("w").cast("decimal(38,2)").alias("totw"),
        F.count("*").cast("bigint").alias("n_prices"),
    )
    return (
        cum.join(F.broadcast(tot), "l_returnflag")
        .filter(F.col("cumw") * 2 >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("weighted_median_price"),
            F.min(F.col("totw").cast("string").cast("double")).alias(
                "total_weight"
            ),
            F.min("n_prices").alias("n_prices"),
        )
    )


def _a30_driver_select(spark: SparkSession, per_price: DataFrame):
    """a30's cap-bounded driver path: collect the (flag, price, cents)
    histogram with ``bounded_arrow``, resolve the lower weighted median
    per flag with an int64 cumulative, or return None over the cap. NULL weights (a flag whose every quantity is NULL)
    keep w NULL → cents NULL → treated as 0 weight, exactly as the
    decimal cumulative sums them."""
    import numpy as np

    from us_dot_flights_lakehouse_spark.operators import quantiles as _q

    pp = per_price.select(
        "l_returnflag",
        "l_extendedprice",
        (F.col("w") * 100).cast("long").alias("w_cents"),
    )
    tbl = bounded_arrow(pp, _q.DRIVER_HIST_MAX_ROWS)
    if tbl is None:
        return None
    import pandas as pd

    flags = tbl.column("l_returnflag").to_pandas()
    prices = tbl.column("l_extendedprice").to_numpy(zero_copy_only=False)
    null_price = np.asarray(tbl.column("l_extendedprice").is_null())
    null_w = np.asarray(tbl.column("w_cents").is_null())
    cents = (
        tbl.column("w_cents")
        .combine_chunks()
        .fill_null(0)
        .to_numpy(zero_copy_only=False)
        .astype("int64")
    )
    rows = []
    for key, idx in pd.DataFrame({"f": flags}).groupby(
        "f", dropna=False, sort=False
    ).indices.items():
        if key is pd.NA or (isinstance(key, float) and key != key):
            continue  # the tot join key is the flag: NULL never matches
        # Spark's ascending window order puts NULL prices FIRST
        nn = idx[~null_price[idx]]
        order = np.concatenate([idx[null_price[idx]], nn[np.argsort(prices[nn])]])
        wn = null_w[order]
        if wn.all():
            continue  # totw is NULL: the filter drops the whole flag
        # overflow guard (ADVICE r13): the cap bounds DISTINCT (flag,
        # price) rows, not underlying row count, so the int64 cumulative
        # (and its ×2 below) is not bounded by construction. A float64
        # abs-sum screen at 2^61 leaves 4× headroom over its own ~1e-16
        # relative error; anything larger falls back to the exact-decimal
        # window path instead of wrapping silently.
        if float(np.abs(cents[order]).astype("float64").sum()) > float(1 << 61):
            return None
        cum = np.cumsum(cents[order])
        tot = int(cum[-1])
        # rows before the first non-NULL weight have cumw NULL -> the
        # filter drops them regardless of the comparison
        fp = int(np.argmin(wn))
        sat = fp + np.nonzero(cum[fp:] * 2 >= tot)[0]
        if sat.size == 0:  # only reachable with negative weights: the
            continue  # plan-side filter then drops the whole flag
        med = None
        for i in sat:  # sat is ascending in price order: the first
            if not null_price[order[i]]:  # non-NULL hit is the min
                med = float(prices[order[i]])
                break
        sign = "-" if tot < 0 else ""
        total_weight = float(f"{sign}{abs(tot) // 100}.{abs(tot) % 100:02d}")
        rows.append((key, med, total_weight, len(idx)))
    return spark.createDataFrame(
        rows,
        "l_returnflag string, weighted_median_price double, "
        "total_weight double, n_prices bigint",
    )


A30_ORACLE = """
WITH per_price AS (
  SELECT l_returnflag, l_extendedprice,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS w
  FROM lineitem GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, l_extendedprice, w,
         CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DECIMAL(38,2)) AS cumw
  FROM per_price
), tot AS (
  SELECT l_returnflag, CAST(sum(w) AS DECIMAL(38,2)) AS totw,
         CAST(count(*) AS BIGINT) AS n_prices
  FROM per_price GROUP BY 1
)
SELECT c.l_returnflag,
       min(c.l_extendedprice) AS weighted_median_price,
       min(CAST(CAST(t.totw AS VARCHAR) AS DOUBLE)) AS total_weight,
       min(t.n_prices) AS n_prices
FROM cum c JOIN tot t USING (l_returnflag)
WHERE c.cumw * 2 >= t.totw
GROUP BY 1
"""


# Must split the o_orderdate span (1995-01-01 .. 2001-08-01 per
# TESTDATA.md at every SF) into two NON-EMPTY samples — the round-6
# value 1995-01-01 equaled min(o_orderdate), so n1=0 and the statistic
# was 0/0 (VERDICT r6 §What's wrong #1). 1998-07-01 ~= the median date.
# tests/test_round7_fixes.py asserts n1>0 and n2>0 at sf0.001.
KS_CUTOFF_DATE = "1998-07-01"


KS_BUCKET_WIDTH = 1000.0


def a31_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A31 (extension): exact two-sample Kolmogorov–Smirnov statistic —
    D = max |F₁(v) − F₂(v)| between the order-price distributions before
    and after {KS_CUTOFF_DATE}: the standard data-drift detector a
    pipeline runs between corpus snapshots before trusting a model
    trained on the old one. Everything is exact integers until ONE final
    division: per distinct price, cumulative counts c₁, c₂; the
    numerator |c₁·N₂ − c₂·N₁| is BIGINT; D = max_num / (N₁·N₂).

    Scale — a DISTRIBUTED PREFIX SCAN, not a global window: a plain
    cumulative sum over ~n distinct prices funnels through one task, so
    the cumulative splits two-phase — coarse price buckets (width
    {KS_BUCKET_WIDTH}) get exclusive prefix totals via a bucket-count-
    sized window, then within-bucket cumulative windows run PARTITIONED
    BY bucket in parallel and add their bucket's offset. Same exact
    integers, parallelism = bucket count instead of 1."""
    orders = read_table(spark, sf_dir, "orders")
    g1 = (F.col("o_orderdate") < F.lit(KS_CUTOFF_DATE).cast("date")).cast(
        "bigint"
    )
    per_price = (
        orders.groupBy(F.col("o_totalprice").alias("v"))
        .agg(
            F.sum(g1).cast("bigint").alias("n1_v"),
            F.sum(1 - g1).cast("bigint").alias("n2_v"),
        )
        .withColumn(
            "bkt", F.floor(F.col("v") / F.lit(KS_BUCKET_WIDTH)).cast("bigint")
        )
    )
    btot = per_price.groupBy("bkt").agg(
        F.sum("n1_v").cast("bigint").alias("t1"),
        F.sum("n2_v").cast("bigint").alias("t2"),
    )
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    boff = btot.select(
        "bkt",
        F.coalesce(F.sum("t1").over(wb), F.lit(0)).cast("bigint").alias("o1"),
        F.coalesce(F.sum("t2").over(wb), F.lit(0)).cast("bigint").alias("o2"),
    )
    wi = W.partitionBy("bkt").orderBy("v").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = (
        per_price.join(F.broadcast(boff), "bkt")
        .withColumn(
            "c1", (F.col("o1") + F.sum("n1_v").over(wi)).cast("bigint")
        )
        .withColumn(
            "c2", (F.col("o2") + F.sum("n2_v").over(wi)).cast("bigint")
        )
    )
    tot = orders.agg(
        F.sum(g1).cast("bigint").alias("n1"),
        F.sum(1 - g1).cast("bigint").alias("n2"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).withColumn(
        "num",
        F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")).cast(
            "bigint"
        ),
    )
    best = scored.agg(
        F.max(F.struct(F.col("num"), (-F.col("v")).alias("nv"))).alias("m"),
        F.min("n1").alias("n1"),
        F.min("n2").alias("n2"),
    )
    return best.select(
        "n1",
        "n2",
        F.col("m.num").alias("ks_numerator"),
        # try_divide: NULL (not NaN/crash) on an empty sample, under BOTH
        # the engine session (ansi=false) and the driver's ANSI-on Spark 4
        # default — matching DuckDB's divide-by-zero -> NULL and the A6
        # NULL-on-/0 convention.
        F.try_divide(
            F.col("m.num").cast("double"),
            F.col("n1").cast("double") * F.col("n2").cast("double"),
        ).alias("ks_stat"),
        (-F.col("m.nv")).alias("at_price"),
    )


A31_ORACLE = f"""
WITH per_price AS (
  SELECT o_totalprice AS v,
         CAST(sum(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1_v,
         CAST(sum(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                       THEN 0 ELSE 1 END) AS BIGINT) AS n2_v
  FROM orders GROUP BY 1
), cum AS (
  SELECT v,
         CAST(sum(n1_v) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
         CAST(sum(n2_v) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c2
  FROM per_price
), tot AS (
  SELECT CAST(sum(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                       THEN 0 ELSE 1 END) AS BIGINT) AS n2
  FROM orders
), scored AS (
  SELECT v, abs(c1 * n2 - c2 * n1) AS num, n1, n2
  FROM cum CROSS JOIN tot
), best AS (
  SELECT n1, n2, num AS ks_numerator, v AS at_price,
         ROW_NUMBER() OVER (ORDER BY num DESC, v ASC) AS rn
  FROM scored
)
SELECT n1, n2, CAST(ks_numerator AS BIGINT) AS ks_numerator,
       CAST(ks_numerator AS DOUBLE)
         / NULLIF(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE), 0.0) AS ks_stat,
       at_price
FROM best WHERE rn = 1
"""


def a32_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A32 (extension): exact 1-D Wasserstein-1 (earth-mover's) distance
    between the before/after order-price distributions around
    {KS_CUTOFF_DATE} — the drift detector that complements a31's KS
    statistic: KS is the WORST single gap between the two empirical
    CDFs, W₁ is the total area between them (∫|F₁−F₂| dv), so it
    catches broad low-amplitude shifts KS underweights. Everything is
    exact integer/decimal arithmetic until ONE final division: prices
    become integer cents; per distinct price the unnormalized CDF gap
    |c₁N₂ − c₂N₁| (decimal(38,0) — c·N passes int64 around 3e9 rows per
    side) is weighted by the cent-gap to the NEXT distinct price, and
    W₁ = Σ terms / (N₁·N₂·100).

    Scale: the same DISTRIBUTED two-phase PREFIX SCAN as a31 (bucket
    offsets via a bucket-count-sized window, then per-bucket cumulative
    windows running in parallel — never a one-task global cumulative).
    The lead(price) gap also runs per bucket; each bucket's LAST row
    takes the next bucket's min price from the same bucket-level
    broadcast, and the global max price gets Δv=0 (its CDF gap is 0 by
    construction, so the dangling interval never contributes)."""
    orders = read_table(spark, sf_dir, "orders")
    vc = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    g1 = (F.col("o_orderdate") < F.lit(KS_CUTOFF_DATE).cast("date")).cast(
        "bigint"
    )
    bkt_cents = int(KS_BUCKET_WIDTH * 100)
    per_price = (
        orders.groupBy(vc.alias("v"))
        .agg(
            F.sum(g1).cast("bigint").alias("n1_v"),
            F.sum(1 - g1).cast("bigint").alias("n2_v"),
        )
        .withColumn(
            "bkt", F.floor(F.col("v") / F.lit(bkt_cents)).cast("bigint")
        )
    )
    btot = per_price.groupBy("bkt").agg(
        F.sum("n1_v").cast("bigint").alias("t1"),
        F.sum("n2_v").cast("bigint").alias("t2"),
        F.min("v").alias("vmin"),
    )
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    boff = btot.select(
        "bkt",
        F.coalesce(F.sum("t1").over(wb), F.lit(0)).cast("bigint").alias("o1"),
        F.coalesce(F.sum("t2").over(wb), F.lit(0)).cast("bigint").alias("o2"),
        F.lead("vmin").over(W.orderBy("bkt")).alias("nxt_vmin"),
    )
    wi = W.partitionBy("bkt").orderBy("v").rowsBetween(
        W.unboundedPreceding, 0
    )
    d19 = "decimal(19,0)"
    cum = (
        per_price.join(F.broadcast(boff), "bkt")
        .withColumn(
            "c1", (F.col("o1") + F.sum("n1_v").over(wi)).cast("bigint")
        )
        .withColumn(
            "c2", (F.col("o2") + F.sum("n2_v").over(wi)).cast("bigint")
        )
        .withColumn(
            "dv",
            F.coalesce(
                F.lead("v").over(W.partitionBy("bkt").orderBy("v")),
                F.col("nxt_vmin"),
                F.col("v"),  # global max price: dv = v - v = 0
            )
            - F.col("v"),
        )
    )
    tot = orders.agg(
        F.sum(g1).cast("bigint").alias("n1"),
        F.sum(1 - g1).cast("bigint").alias("n2"),
    )
    term = (
        F.abs(
            F.col("c1").cast(d19) * F.col("n2").cast(d19)
            - F.col("c2").cast(d19) * F.col("n1").cast(d19)
        )
        * F.col("dv").cast(d19)
    ).cast("decimal(38,0)")
    agg = cum.crossJoin(F.broadcast(tot)).agg(
        F.min("n1").alias("n1"),
        F.min("n2").alias("n2"),
        F.sum(term).cast("decimal(38,0)").alias("num"),
    )
    return agg.select(
        "n1",
        "n2",
        F.col("num").cast("double").alias("w1_numerator"),
        F.try_divide(
            F.col("num").cast("double"),
            F.col("n1").cast("double") * F.col("n2").cast("double") * 100.0,
        ).alias("w1_distance"),
    )


A32_ORACLE = f"""
WITH per_price AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         CAST(sum(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1_v,
         CAST(sum(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                       THEN 0 ELSE 1 END) AS BIGINT) AS n2_v
  FROM orders GROUP BY 1
), cum AS (
  SELECT v,
         CAST(sum(n1_v) OVER w AS HUGEINT) AS c1,
         CAST(sum(n2_v) OVER w AS HUGEINT) AS c2,
         COALESCE(lead(v) OVER (ORDER BY v), v) - v AS dv
  FROM per_price
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tot AS (
  SELECT CAST(sum(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                       THEN 0 ELSE 1 END) AS BIGINT) AS n2
  FROM orders
)
SELECT n1, n2,
       CAST(sum(abs(c1 * n2 - c2 * n1) * CAST(dv AS HUGEINT)) AS DOUBLE)
         AS w1_numerator,
       CAST(sum(abs(c1 * n2 - c2 * n1) * CAST(dv AS HUGEINT)) AS DOUBLE)
         / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * 100.0) AS w1_distance
FROM cum CROSS JOIN tot
GROUP BY n1, n2
"""


def a33_welch_t_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A33 (extension): Welch's two-sample t statistic between the
    before/after order-price samples around {KS_CUTOFF_DATE} — the
    mean-shift drift test completing the drift suite (a31 KS = worst
    CDF gap, a32 W₁ = total CDF area, a33 = standardized mean shift,
    unequal variances). Moments accumulate EXACTLY — integer cents in
    decimal(38,0), order-independent under parallel merge — and only
    the closed-form double arithmetic (division, sqrt: both correctly
    rounded IEEE-754) runs in floats, so both engines produce identical
    bits. Zero windows, zero joins: ONE conditional aggregate over the
    scan."""
    orders = read_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "decimal(19,0)"
    )
    g1 = F.col("o_orderdate") < F.lit(KS_CUTOFF_DATE).cast("date")
    z = F.lit(0).cast("decimal(19,0)")
    agg = orders.agg(
        F.sum(F.when(g1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(g1, 0).otherwise(1)).cast("bigint").alias("n2"),
        F.sum(F.when(g1, cents).otherwise(z)).cast("decimal(38,0)").alias("s1"),
        F.sum(F.when(g1, z).otherwise(cents)).cast("decimal(38,0)").alias("s2"),
        F.sum(F.when(g1, cents * cents).otherwise(z))
        .cast("decimal(38,0)")
        .alias("q1"),
        F.sum(F.when(g1, z).otherwise(cents * cents))
        .cast("decimal(38,0)")
        .alias("q2"),
    )
    d19 = "decimal(19,0)"

    def mean(s, n):  # dollars
        return s.cast("double") / n.cast("double") / 100.0

    def var(n, s, q):  # sample variance, dollars^2: (n*q - s^2)/(n*(n-1))/1e4
        num = (n.cast(d19) * q - s * s).cast("double")
        return num / (n.cast("double") * (n.cast("double") - 1.0)) / 10000.0

    stats = agg.select(
        "n1",
        "n2",
        mean(F.col("s1"), F.col("n1")).alias("mean_before"),
        mean(F.col("s2"), F.col("n2")).alias("mean_after"),
        var(F.col("n1"), F.col("s1"), F.col("q1")).alias("var_before"),
        var(F.col("n2"), F.col("s2"), F.col("q2")).alias("var_after"),
    )
    se1 = F.col("var_before") / F.col("n1").cast("double")
    se2 = F.col("var_after") / F.col("n2").cast("double")
    return stats.select(
        "n1",
        "n2",
        "mean_before",
        "mean_after",
        "var_before",
        "var_after",
        F.try_divide(
            F.col("mean_before") - F.col("mean_after"), F.sqrt(se1 + se2)
        ).alias("t_stat"),
        F.try_divide(
            (se1 + se2) * (se1 + se2),
            se1 * se1 / (F.col("n1").cast("double") - 1.0)
            + se2 * se2 / (F.col("n2").cast("double") - 1.0),
        ).alias("welch_dof"),
    )


A33_ORACLE = f"""
WITH m AS (
  SELECT CAST(sum(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                       THEN 0 ELSE 1 END) AS BIGINT) AS n2,
         sum(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS HUGEINT) ELSE 0 END) AS s1,
         sum(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                  THEN 0 ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                   AS HUGEINT) END) AS s2,
         sum(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS HUGEINT)
                       * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                              AS HUGEINT) ELSE 0 END) AS q1,
         sum(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                  THEN 0 ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                   AS HUGEINT)
                              * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                     AS HUGEINT) END) AS q2
  FROM orders
), s AS (
  SELECT n1, n2,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0 AS mean_before,
         CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0 AS mean_after,
         CAST(CAST(n1 AS HUGEINT) * q1 - s1 * s1 AS DOUBLE)
           / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)) / 10000.0
           AS var_before,
         CAST(CAST(n2 AS HUGEINT) * q2 - s2 * s2 AS DOUBLE)
           / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0)) / 10000.0
           AS var_after
  FROM m
)
SELECT n1, n2, mean_before, mean_after, var_before, var_after,
       (mean_before - mean_after)
         / sqrt(var_before / CAST(n1 AS DOUBLE)
                + var_after / CAST(n2 AS DOUBLE)) AS t_stat,
       ((var_before / CAST(n1 AS DOUBLE) + var_after / CAST(n2 AS DOUBLE))
        * (var_before / CAST(n1 AS DOUBLE) + var_after / CAST(n2 AS DOUBLE)))
         / ((var_before / CAST(n1 AS DOUBLE))
            * (var_before / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)
            + (var_after / CAST(n2 AS DOUBLE))
              * (var_after / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0))
         AS welch_dof
FROM s
"""


def a35_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A35 (extension): decile-table drift report — the nine deciles of
    the before/after order-price samples around {KS_CUTOFF_DATE} side by
    side with their gaps: the INTERPRETABLE companion to the drift
    suite's single-number verdicts (a31 KS, a32 W₁, a33 t) that tells an
    engineer WHERE in the distribution the shift lives. Both quantile
    sets come from ONE array-percentile aggregate per side (a11's
    single-pass technique: linear interpolation lo + (hi−lo)·frac,
    bit-identical to QUANTILE_CONT on both engines).

    r13 note: the driver-histogram rank-selection path (the a20/a23
    rewrite) was A/B-tested here and REJECTED — 0.55 → 0.74 s isolated:
    one mild global aggregate beats collecting a near-row-cardinality
    histogram.

    Scale: one global aggregate (percentile's sort/accumulate buffers
    are per-partition then merged); no windows, no joins."""
    orders = read_table(spark, sf_dir, "orders")
    g1 = F.col("o_orderdate") < F.lit(KS_CUTOFF_DATE).cast("date")
    qs = [i / 10 for i in range(1, 10)]
    agg = orders.agg(
        F.percentile(F.when(g1, F.col("o_totalprice")), F.lit(qs)).alias(
            "qb"
        ),
        F.percentile(F.when(~g1, F.col("o_totalprice")), F.lit(qs)).alias(
            "qa"
        ),
    )
    z = agg.select(F.posexplode(F.arrays_zip("qb", "qa")))
    return z.select(
        (F.col("pos") + 1).cast("int").alias("decile"),
        F.col("col.qb").alias("q_before"),
        F.col("col.qa").alias("q_after"),
        (F.col("col.qa") - F.col("col.qb")).alias("gap"),
    )


A35_ORACLE = f"""
WITH q AS (
  SELECT quantile_cont(CASE WHEN o_orderdate < DATE '{KS_CUTOFF_DATE}'
                            THEN o_totalprice END,
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qb,
         quantile_cont(CASE WHEN o_orderdate >= DATE '{KS_CUTOFF_DATE}'
                            THEN o_totalprice END,
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qa
  FROM orders
)
SELECT CAST(u.i AS INTEGER) AS decile,
       qb[u.i] AS q_before,
       qa[u.i] AS q_after,
       qa[u.i] - qb[u.i] AS gap
FROM q, (SELECT unnest(range(1, 10)) AS i) u
"""


def a37_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A37 (extension): one-way ANOVA F statistic of order price across
    market segments — completes the statistical-test family (a26/a34
    categorical×categorical, a33 two-group means, a31/a32/a35
    distributions; THIS is the k-group mean test). Per-group moments
    accumulate EXACTLY (integer cents in decimal(38,0)); the
    between/within sums of squares fold their 5 per-group double terms
    in SEGMENT order on both engines (sorted-fold technique), and F is
    two double divisions — bit-stable.

    Scale: one customer⋈orders broadcast join + one 5-group moment
    aggregate; the folds run over the group-cardinality collect."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "decimal(19,0)"
    )
    pairs = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
    ).select(F.col("c_mktsegment").alias("seg"), cents.alias("v"))
    groups = pairs.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("decimal(38,0)").alias("q"),
    )
    folded = groups.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.count("*").cast("bigint").alias("k_groups"),
        F.sum("s").cast("decimal(38,0)").alias("s_total"),
        F.collect_list(F.struct("seg", "n", "s", "q")).alias("gs"),
    )
    grand_mean = F.col("s_total").cast("double") / F.col("n_total").cast(
        "double"
    )

    def ssb_term(g):
        m = g["s"].cast("double") / g["n"].cast("double")
        d = m - grand_mean
        return g["n"].cast("double") * d * d

    def ssw_term(g):
        # q - s^2/n, all from exact decimals cast late
        return g["q"].cast("double") - (
            g["s"].cast("double") * g["s"].cast("double")
        ) / g["n"].cast("double")

    sorted_gs = F.array_sort(F.col("gs"))
    ssb = F.aggregate(
        sorted_gs, F.lit(0.0), lambda acc, g: acc + ssb_term(g)
    )
    ssw = F.aggregate(
        sorted_gs, F.lit(0.0), lambda acc, g: acc + ssw_term(g)
    )
    out = folded.select(
        "n_total",
        "k_groups",
        (ssb / 10000.0).alias("ss_between"),
        (ssw / 10000.0).alias("ss_within"),
    )
    return out.select(
        "n_total",
        "k_groups",
        "ss_between",
        "ss_within",
        F.try_divide(
            F.col("ss_between") / (F.col("k_groups") - 1).cast("double"),
            F.col("ss_within")
            / (F.col("n_total") - F.col("k_groups")).cast("double"),
        ).alias("f_stat"),
    )


A37_ORACLE = """
WITH pairs AS (
  SELECT c.c_mktsegment AS seg,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), groups AS (
  SELECT seg, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS HUGEINT) AS s,
         CAST(sum(v * v) AS HUGEINT) AS q
  FROM pairs GROUP BY 1
), folded AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS k_groups,
         CAST(sum(s) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS grand_mean,
         list(struct_pack(seg := seg, n := n, s := s, q := q)
              ORDER BY seg) AS gs
  FROM groups
), ss AS (
  SELECT n_total, k_groups,
         list_sum(list_transform(gs, g ->
           CAST(g.n AS DOUBLE)
           * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE) - grand_mean)
           * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE) - grand_mean)))
           / 10000.0 AS ss_between,
         list_sum(list_transform(gs, g ->
           CAST(g.q AS DOUBLE)
           - (CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE))
             / CAST(g.n AS DOUBLE))) / 10000.0 AS ss_within
  FROM folded
)
SELECT n_total, k_groups, ss_between, ss_within,
       (ss_between / CAST(k_groups - 1 AS DOUBLE))
         / (ss_within / CAST(n_total - k_groups AS DOUBLE)) AS f_stat
FROM ss
"""


def a36_boxplot_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A36 (extension): boxplot (five-number + Tukey fences) profile of
    extended price per return flag, WITH exact outlier counts — the
    distribution card a profiler renders per numeric column. Two passes:
    one array-percentile aggregate per group (a11's single-pass
    technique), then the 3-row fence table broadcasts back for exact
    BIGINT outlier counting — never a sort of row-scale data to the
    driver. Fence arithmetic (1.5·IQR) is plain double math, identical
    on both engines.

    Scale: a grouped percentile aggregate + one broadcast join + one
    grouped conditional count."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    q = lineitem.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit([0.25, 0.5, 0.75])).alias("qs"),
        F.count("*").cast("bigint").alias("n_items"),
    )
    fences = q.select(
        "l_returnflag",
        "n_items",
        F.col("qs")[0].alias("p25"),
        F.col("qs")[1].alias("p50"),
        F.col("qs")[2].alias("p75"),
        (F.col("qs")[2] - F.col("qs")[0]).alias("iqr"),
        (F.col("qs")[0] - 1.5 * (F.col("qs")[2] - F.col("qs")[0])).alias(
            "fence_lo"
        ),
        (F.col("qs")[2] + 1.5 * (F.col("qs")[2] - F.col("qs")[0])).alias(
            "fence_hi"
        ),
    )
    joined = lineitem.select("l_returnflag", "l_extendedprice").join(
        F.broadcast(fences), "l_returnflag"
    )
    return joined.groupBy(
        "l_returnflag",
        "n_items",
        "p25",
        "p50",
        "p75",
        "iqr",
        "fence_lo",
        "fence_hi",
    ).agg(
        F.sum((F.col("l_extendedprice") < F.col("fence_lo")).cast("int"))
        .cast("bigint")
        .alias("n_low_outliers"),
        F.sum((F.col("l_extendedprice") > F.col("fence_hi")).cast("int"))
        .cast("bigint")
        .alias("n_high_outliers"),
    )


A36_ORACLE = """
WITH q AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n_items,
         quantile_cont(l_extendedprice, 0.25) AS p25,
         quantile_cont(l_extendedprice, 0.5) AS p50,
         quantile_cont(l_extendedprice, 0.75) AS p75
  FROM lineitem GROUP BY 1
), fences AS (
  SELECT l_returnflag, n_items, p25, p50, p75,
         p75 - p25 AS iqr,
         p25 - 1.5 * (p75 - p25) AS fence_lo,
         p75 + 1.5 * (p75 - p25) AS fence_hi
  FROM q
)
SELECT f.l_returnflag, f.n_items, f.p25, f.p50, f.p75, f.iqr,
       f.fence_lo, f.fence_hi,
       CAST(sum(CASE WHEN l.l_extendedprice < f.fence_lo
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
       CAST(sum(CASE WHEN l.l_extendedprice > f.fence_hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
FROM lineitem l JOIN fences f USING (l_returnflag)
GROUP BY 1, 2, 3, 4, 5, 6, 7, 8
"""


def a34_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A34 (extension): Cramér's V association strength between market
    segment and order status — the [0,1] summary of a26's chi-square
    cell table (V = √(χ²/(n·(min(r,c)−1)))), the one-number answer to
    "are these two categoricals related?" that a profiling pass runs
    over every column pair. Cell/marginal counts are exact BIGINTs; χ²
    folds its 15 cell terms in (segment, status) order on BOTH engines
    (the sorted-fold technique — a parallel float sum would not be
    reproducible), and sqrt is IEEE-correctly-rounded.

    Scale: one join + one cell-cardinality aggregate; marginals join
    broadcast against the 15-row cell table."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    pairs = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_orderstatus").alias("st")
    )
    cells = pairs.groupBy("seg", "st").agg(
        F.count("*").cast("bigint").alias("o")
    )
    row_t = cells.groupBy("seg").agg(F.sum("o").cast("bigint").alias("rt"))
    col_t = cells.groupBy("st").agg(F.sum("o").cast("bigint").alias("ct"))
    full = (
        cells.join(F.broadcast(row_t), "seg")
        .join(F.broadcast(col_t), "st")
    )
    n = F.sum("o").cast("bigint")
    folded = full.agg(
        n.alias("n_total"),
        F.countDistinct("seg").cast("bigint").alias("n_segments"),
        F.countDistinct("st").cast("bigint").alias("n_statuses"),
        F.collect_list(F.struct("seg", "st", "o", "rt", "ct")).alias("cells"),
    )

    def term(c):
        e = (
            c["rt"].cast("double")
            * c["ct"].cast("double")
            / F.col("n_total").cast("double")
        )
        d = c["o"].cast("double") - e
        return d * d / e

    chi2 = F.aggregate(
        F.array_sort(F.col("cells")), F.lit(0.0), lambda acc, c: acc + term(c)
    )
    out = folded.select(
        "n_total",
        "n_segments",
        "n_statuses",
        chi2.alias("chi2"),
    )
    k = F.least(F.col("n_segments"), F.col("n_statuses")) - 1
    return out.select(
        "n_total",
        "n_segments",
        "n_statuses",
        "chi2",
        (
            (F.col("n_segments") - 1) * (F.col("n_statuses") - 1)
        ).cast("bigint").alias("dof"),
        F.sqrt(
            F.col("chi2") / (F.col("n_total").cast("double") * k.cast("double"))
        ).alias("cramers_v"),
    )


A34_ORACLE = """
WITH pairs AS (
  SELECT c.c_mktsegment AS seg, o.o_orderstatus AS st
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), cells AS (
  SELECT seg, st, CAST(count(*) AS BIGINT) AS o FROM pairs GROUP BY 1, 2
), full_t AS (
  SELECT c.seg, c.st, c.o,
         CAST(sum(c.o) OVER (PARTITION BY c.seg) AS BIGINT) AS rt,
         CAST(sum(c.o) OVER (PARTITION BY c.st) AS BIGINT) AS ct
  FROM cells c
), folded AS (
  SELECT CAST(sum(o) AS BIGINT) AS n_total,
         CAST(count(DISTINCT seg) AS BIGINT) AS n_segments,
         CAST(count(DISTINCT st) AS BIGINT) AS n_statuses,
         list(struct_pack(seg := seg, st := st, o := o, rt := rt, ct := ct)
              ORDER BY seg, st) AS cells
  FROM full_t
)
SELECT n_total, n_segments, n_statuses,
       list_sum(list_transform(cells, c ->
         (CAST(c.o AS DOUBLE)
          - CAST(c.rt AS DOUBLE) * CAST(c.ct AS DOUBLE)
            / CAST(n_total AS DOUBLE))
         * (CAST(c.o AS DOUBLE)
            - CAST(c.rt AS DOUBLE) * CAST(c.ct AS DOUBLE)
              / CAST(n_total AS DOUBLE))
         / (CAST(c.rt AS DOUBLE) * CAST(c.ct AS DOUBLE)
            / CAST(n_total AS DOUBLE)))) AS chi2,
       CAST((n_segments - 1) * (n_statuses - 1) AS BIGINT) AS dof,
       sqrt(list_sum(list_transform(cells, c ->
         (CAST(c.o AS DOUBLE)
          - CAST(c.rt AS DOUBLE) * CAST(c.ct AS DOUBLE)
            / CAST(n_total AS DOUBLE))
         * (CAST(c.o AS DOUBLE)
            - CAST(c.rt AS DOUBLE) * CAST(c.ct AS DOUBLE)
              / CAST(n_total AS DOUBLE))
         / (CAST(c.rt AS DOUBLE) * CAST(c.ct AS DOUBLE)
            / CAST(n_total AS DOUBLE))))
         / (CAST(n_total AS DOUBLE)
            * CAST(least(n_segments, n_statuses) - 1 AS DOUBLE)))
         AS cramers_v
FROM folded
"""


QUERIES = {
    "daily_segment_performance": daily_segment_performance,
    "a3_global_summary": a3_global_summary,
    "a4_distinct_dim": a4_distinct_dim,
    "a5_topk_parts": a5_topk_parts,
    "a7_grouped_dim_supplier": a7_grouped_dim_supplier,
    "a8_describe_orders": a8_describe_orders,
    "a9_rollup_segment_status": a9_rollup_segment_status,
    "a10_cube_returnflag_status": a10_cube_returnflag_status,
    "a11_exact_quantiles": a11_exact_quantiles,
    "a13_pivot_status_by_segment": a13_pivot_status_by_segment,
    "a12_approx_sketches": a12_approx_sketches,
    "a14_unpivot_status_counts": a14_unpivot_status_counts,
    "a15_grouping_sets": a15_grouping_sets,
    "a16_collection_aggs": a16_collection_aggs,
    "a17_bitwise_bool_aggs": a17_bitwise_bool_aggs,
    "a18_stat_moments": a18_stat_moments,
    "a20_equidepth_histogram": a20_equidepth_histogram,
    "a21_pearson_corr": a21_pearson_corr,
    "a22_copurchase_lift": a22_copurchase_lift,
    "a23_mad_robust_stats": a23_mad_robust_stats,
    "a26_chi2_independence": a26_chi2_independence,
    "a27_bootstrap_ci": a27_bootstrap_ci,
    "a25_hhi_concentration": a25_hhi_concentration,
    "a24_theil_sen": a24_theil_sen,
    "a28_mutual_information": a28_mutual_information,
    "a29_nation_gini": a29_nation_gini,
    "a30_weighted_median": a30_weighted_median,
    "a31_ks_drift": a31_ks_drift,
    "a32_wasserstein_drift": a32_wasserstein_drift,
    "a33_welch_t_drift": a33_welch_t_drift,
    "a35_quantile_drift": a35_quantile_drift,
    "a37_anova_oneway": a37_anova_oneway,
    "a36_boxplot_profile": a36_boxplot_profile,
    "a34_cramers_v": a34_cramers_v,
}

ORACLES = {
    "daily_segment_performance": FLAGSHIP_ORACLE,
    "a3_global_summary": A3_ORACLE,
    "a4_distinct_dim": A4_ORACLE,
    "a5_topk_parts": A5_ORACLE,
    "a7_grouped_dim_supplier": A7_ORACLE,
    "a8_describe_orders": A8_ORACLE,
    "a9_rollup_segment_status": A9_ORACLE,
    "a10_cube_returnflag_status": A10_ORACLE,
    "a11_exact_quantiles": A11_ORACLE,
    "a13_pivot_status_by_segment": A13_ORACLE,
    "a12_approx_sketches": A12_ORACLE,
    "a14_unpivot_status_counts": A14_ORACLE,
    "a15_grouping_sets": A15_ORACLE,
    "a16_collection_aggs": A16_ORACLE,
    "a17_bitwise_bool_aggs": A17_ORACLE,
    "a18_stat_moments": A18_ORACLE,
    "a20_equidepth_histogram": _equidepth_oracle,
    "a21_pearson_corr": A21_ORACLE,
    "a22_copurchase_lift": A22_ORACLE,
    "a23_mad_robust_stats": A23_ORACLE,
    "a26_chi2_independence": A26_ORACLE,
    "a27_bootstrap_ci": A27_ORACLE,
    "a25_hhi_concentration": A25_ORACLE,
    "a24_theil_sen": A24_ORACLE,
    "a28_mutual_information": A28_ORACLE,
    "a29_nation_gini": A29_ORACLE,
    "a30_weighted_median": A30_ORACLE,
    "a31_ks_drift": A31_ORACLE,
    "a32_wasserstein_drift": A32_ORACLE,
    "a33_welch_t_drift": A33_ORACLE,
    "a35_quantile_drift": A35_ORACLE,
    "a37_anova_oneway": A37_ORACLE,
    "a36_boxplot_profile": A36_ORACLE,
    "a34_cramers_v": A34_ORACLE,
}
