"""Join / graph / set-op queries (j*, g*, u*): equi/asof/skew joins, graph ops.

The module owns its catalog entries (``QUERIES``/``ORACLES`` at the end).
See the package ``__init__`` for the cross-engine determinism contract.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from us_dot_flights_lakehouse_spark.operators.aggregates import dec_sum
from us_dot_flights_lakehouse_spark.operators.physical import bounded_arrow
from us_dot_flights_lakehouse_spark.operators.joins import (
    asof_join,
    broadcast_star_join,
    bucketed_range_join,
    enrich_join,
    outer_merge_coalesce,
    semi_join,
)
from us_dot_flights_lakehouse_spark.operators.setops import (
    except_distinct,
    intersect_distinct,
    union_distinct,
)
from us_dot_flights_lakehouse_spark.sources.readers import lookup_scan, read_table


def j1_enrich_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J6/S3: left join against a trimmed lookup with cast-to-string join
    keys (reference download_and_ingest.py:83-97,134-155), then a grouped
    rollup to make the enrichment observable."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    lookup = lookup_scan(
        read_table(spark, sf_dir, "supplier"), "s_suppkey", "s_name"
    )
    enriched = enrich_join(
        lineitem,
        lookup,
        on=lineitem.l_suppkey.cast("string") == lookup.Code,
        how="left",
    )
    return enriched.groupBy(F.col("Description").alias("supplier_name")).agg(
        F.count("*").alias("n_items"),
        dec_sum("l_extendedprice", "gross_revenue"),
    )


J1_ORACLE = """
SELECT
  s.supplier_name,
  COUNT(*) AS n_items,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS gross_revenue
FROM lineitem l
LEFT JOIN (
  SELECT TRIM(CAST(s_suppkey AS VARCHAR)) AS code, TRIM(s_name) AS supplier_name
  FROM supplier
) s ON CAST(l.l_suppkey AS VARCHAR) = s.code
GROUP BY 1
"""


def j2_star_fact_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J5 + the manual join-elimination trick: fact build with chained
    broadcast left joins (reference fact_flights.py:36-61) and the date FK
    computed *arithmetically* instead of joining a date dim (reference
    fact_flights.py:11-32 precomputes 4 time FKs to skip 4 joins)."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    supplier = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")

    fact = broadcast_star_join(
        lineitem,
        [
            (orders, lineitem.l_orderkey == orders.o_orderkey),
            (part, lineitem.l_partkey == part.p_partkey),
            (supplier, lineitem.l_suppkey == supplier.s_suppkey),
        ],
        how="left",
    )
    return fact.select(
        "l_orderkey",
        "l_linenumber",
        # join-elimination: DATE_KEY derived by expression, not a dim join
        (
            F.year("o_orderdate") * 10000
            + F.month("o_orderdate") * 100
            + F.dayofmonth("o_orderdate")
        ).cast("int").alias("date_key"),
        "o_custkey",
        "p_brand",
        F.col("s_name").alias("supplier_name"),
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "net_revenue"
        ),
    )


J2_ORACLE = """
SELECT
  l.l_orderkey,
  l.l_linenumber,
  CAST(year(o.o_orderdate) * 10000 + month(o.o_orderdate) * 100 + day(o.o_orderdate) AS INTEGER) AS date_key,
  o.o_custkey,
  p.p_brand,
  s.s_name AS supplier_name,
  l.l_quantity,
  l.l_extendedprice,
  l.l_discount,
  l.l_extendedprice * (1.0 - l.l_discount) AS net_revenue
FROM lineitem l
LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
LEFT JOIN part p ON l.l_partkey = p.p_partkey
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
"""


def j4_outer_merge_daily_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: full-outer merge of two keyed daily aggregates with COALESCE'd
    keys (reference daily_airport_performance.py:44-59 merges the
    departure-side and arrival-side aggregates per (date, airport))."""
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")

    placed = orders.groupBy(F.to_date("o_orderdate").alias("o_date")).agg(
        F.count("*").alias("n_orders"), dec_sum("o_totalprice", "order_revenue")
    )
    shipped = lineitem.groupBy(F.to_date("l_shipdate").alias("s_date")).agg(
        F.count("*").alias("n_shipments"), dec_sum("l_extendedprice", "ship_revenue")
    )
    return outer_merge_coalesce(placed, shipped, [("o_date", "s_date", "flow_date")])


J4_ORACLE = """
WITH placed AS (
  SELECT CAST(o_orderdate AS DATE) AS o_date, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS order_revenue
  FROM orders GROUP BY 1
), shipped AS (
  SELECT CAST(l_shipdate AS DATE) AS s_date, COUNT(*) AS n_shipments,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS ship_revenue
  FROM lineitem GROUP BY 1
)
SELECT COALESCE(p.o_date, s.s_date) AS flow_date,
       p.n_orders, p.order_revenue, s.n_shipments, s.ship_revenue
FROM placed p FULL OUTER JOIN shipped s ON p.o_date = s.s_date
"""


def j7_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — not exercised by the reference but free
    in Catalyst (SURVEY.md §2.3 note); needed for incremental-dedup flows."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").select("o_custkey")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


J7_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def u1_union_distinct_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: union of two projections + distinct, then dim join
    (reference dim_airport.py:7-18 unions origin∪dest airport codes)."""
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    keys = union_distinct(
        customer.select(F.col("c_nationkey").alias("nationkey")),
        supplier.select(F.col("s_nationkey").alias("nationkey")),
    )
    return enrich_join(
        keys, nation, on=keys.nationkey == nation.n_nationkey, how="inner"
    ).select("nationkey", "n_name")


U1_ORACLE = """
SELECT u.nationkey, n.n_name
FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION
  SELECT s_nationkey AS nationkey FROM supplier
) u JOIN nation n ON u.nationkey = n.n_nationkey
"""


def j6_semi_high_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-semi: membership filter as left-semi join (≡ WHERE EXISTS) —
    customers with at least one high-value order. The probe side is
    projected to its key column only before the join."""
    customer = read_table(spark, sf_dir, "customer")
    big = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 200000)
        .select("o_custkey")
    )
    return semi_join(
        customer, big, customer["c_custkey"] == big["o_custkey"]
    ).select("c_custkey", "c_name", "c_mktsegment")


J6_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
)
"""


def u2_intersect_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: INTERSECT / EXCEPT over minimal key projections — nations having
    both customers and suppliers vs customer-only nations, tagged and
    re-unioned (complements U1's union-distinct)."""
    cn = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    sn = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = intersect_distinct(cn, sn).withColumn("membership", F.lit("both"))
    cust_only = except_distinct(cn, sn).withColumn(
        "membership", F.lit("customer_only")
    )
    return both.unionByName(cust_only)


U2_ORACLE = """
SELECT nationkey, 'both' AS membership FROM (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT nationkey, 'customer_only' AS membership FROM (
  SELECT c_nationkey AS nationkey FROM customer
  EXCEPT
  SELECT s_nationkey FROM supplier
)
"""


def j8_asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 (extension): as-of join — attribute each purchase event to the
    most recent click by the same user at-or-before the purchase time
    (classic attribution / last-touch semantics; DuckDB ASOF JOIN is the
    oracle). Right side is pre-aggregated to unique (user_id, ts) so the
    as-of match is well-defined. One shuffle on user_id; see
    operators/joins.py::asof_join for the 100 TB scaling argument."""
    events = read_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    joined = asof_join(
        purchases, clicks, ["user_id"], "ts", "ts", ["click_value"]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("ts_matched").alias("click_ts"),
        "click_value",
    )


J8_ORACLE = """
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, MAX(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
       c.ts AS click_ts, c.click_value
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def j9_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 (extension): range (interval-containment) join — count parts per
    OVERLAPPING price band (overlap is what makes this a genuine range
    join rather than a CASE bucketing). Implemented with the bin-bucket
    trick (operators/joins.py::bucketed_range_join) so Catalyst plans a
    hash equi-join, not a nested-loop cross product — the plan that
    survives 100 TB."""
    part = read_table(spark, sf_dir, "part")
    bands = spark.range(10).select(
        F.col("id").alias("band_id"),
        (F.lit(900.0) + F.col("id") * 10.0).alias("lo"),
        (F.lit(900.0) + F.col("id") * 10.0 + 25.0).alias("hi"),
    )
    joined = bucketed_range_join(
        part.select("p_partkey", "p_retailprice"),
        bands,
        "p_retailprice",
        "lo",
        "hi",
        bucket_width=25.0,
    )
    return (
        joined.groupBy("band_id", "lo", "hi")
        .agg(
            F.count("*").alias("n_parts"),
            dec_sum("p_retailprice", "sum_price"),
        )
        .orderBy("band_id")
    )


J9_ORACLE = """
WITH bands AS (
  SELECT CAST(range AS BIGINT) AS band_id,
         900.0 + range * 10.0 AS lo,
         900.0 + range * 10.0 + 25.0 AS hi
  FROM range(10)
)
SELECT band_id, lo, hi, COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
FROM bands JOIN part ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band_id, lo, hi ORDER BY band_id
"""


def j10_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 (extension): TPC-H Q5-shaped six-way join — region->nation->
    supplier + customer->orders->lineitem with a same-nation constraint,
    one year of orders, revenue per nation. The scale stress here is JOIN
    ORDERING: the selective region filter must reach nation/supplier
    before the fact join, dims must broadcast, and only the
    orders-lineitem join shuffles. AQE + the declarative plan get that
    for free; revenue goes through exact DECIMAL products so the sum is
    order-insensitive cross-engine."""
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = read_table(spark, sf_dir, "nation")
    supplier = read_table(spark, sf_dir, "supplier")
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    lineitem = read_table(spark, sf_dir, "lineitem")
    nations_in_region = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    joined = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(supplier), lineitem["l_suppkey"] == supplier["s_suppkey"]
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .where(F.col("s_nationkey") == F.col("c_nationkey"))
        .join(
            F.broadcast(nations_in_region),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


J10_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name ORDER BY revenue DESC, n_name ASC
"""


def j11_clickstream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 (extension): event-time interval join — for each purchase,
    aggregate the clicks by the same user in the preceding hour
    (look-back attribution window). Catalyst plans the user_id equality
    as a hash equi-join and the time bounds as a post-join filter, so
    the pair explosion is bounded per user — the plan that scales. The
    streaming twin (stream-stream join with watermarks) is
    streaming/events.py::clickstream_attribution_stream; batch/stream
    parity is unit-tested."""
    events = read_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("click_value"),
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
        "left",
    )
    return (
        joined.groupBy("event_id", "p_user", "p_ts")
        .agg(
            F.count("c_ts").alias("n_clicks_prior_hour"),
            dec_sum("click_value", "sum_click_value"),
            F.max("c_ts").alias("last_click_ts"),
        )
        .withColumnRenamed("p_user", "user_id")
        .withColumnRenamed("p_ts", "purchase_ts")
    )


J11_ORACLE = """
WITH purchases AS (
  SELECT event_id, user_id AS p_user, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id AS c_user, ts AS c_ts, value AS click_value
  FROM events WHERE event_type = 'click'
)
SELECT event_id, p_user AS user_id, p_ts AS purchase_ts,
       COUNT(c_ts) AS n_clicks_prior_hour,
       CAST(SUM(CAST(click_value AS DECIMAL(28,2))) AS DOUBLE) AS sum_click_value,
       MAX(c_ts) AS last_click_ts
FROM purchases LEFT JOIN clicks
  ON p_user = c_user
 AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts
GROUP BY event_id, p_user, p_ts
"""


def j12_lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 (extension): correlated LATERAL subquery with per-row ORDER BY +
    LIMIT — top-2 orders per customer. Catalyst decorrelates this into a
    ranked window over the orders side (one shuffle on the correlation
    key), so the lateral form costs the same as the hand-written
    row_number()<=k idiom while reading as SQL. Customers with no orders
    are absent (inner lateral), matching DuckDB."""
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("j12_customer")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("j12_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM j12_customer c, LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM j12_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC
          LIMIT 2
        ) t
        """
    )


J12_ORACLE = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC
  LIMIT 2
) t
"""


def u4_union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 (extension): schema-evolution union — two generations of the
    same feed with drifted projections (the old one lacks a column the
    new one added, and vice versa) combined with
    ``unionByName(allowMissingColumns=True)``: absent columns
    null-backfill, matching by NAME not position. This is the batch twin
    of the streaming addNewColumns ingest (streaming/ingest.py)."""
    orders = read_table(spark, sf_dir, "orders")
    old_gen = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").alias("price")
    )
    new_gen = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_orderpriority").alias("priority"),  # added column
    )
    return old_gen.unionByName(new_gen, allowMissingColumns=True).select(
        "o_orderkey",
        "o_orderstatus",
        "price",
        "priority",
        F.col("price").isNull().alias("from_new_gen"),
    )


U4_ORACLE = """
SELECT o_orderkey, o_orderstatus,
       o_totalprice AS price,
       CAST(NULL AS VARCHAR) AS priority,
       false AS from_new_gen
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, o_orderstatus,
       CAST(NULL AS DOUBLE) AS price,
       o_orderpriority AS priority,
       true AS from_new_gen
FROM orders WHERE o_orderkey % 2 = 1
"""


def u3_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 (extension): multiset set operations — exceptAll / intersectAll
    (bag semantics, duplicates preserved), compacted to per-value counts.
    Both execute as a single aggregate computing per-side multiplicities
    (sum of +1/-1 tags) — no join, one shuffle on the value."""
    orders = read_table(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "F").select("o_orderpriority")
    b = orders.where(F.col("o_orderstatus") == "O").select("o_orderpriority")
    ex = (
        a.exceptAll(b)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(F.lit("except_all").alias("op"), "o_orderpriority", "n")
    )
    ia = (
        a.intersectAll(b)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "o_orderpriority", "n")
    )
    return ex.unionByName(ia)


U3_ORACLE = """
SELECT 'except_all' AS op, o_orderpriority, COUNT(*) AS n FROM (
  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
  EXCEPT ALL
  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
) GROUP BY 2
UNION ALL
SELECT 'intersect_all' AS op, o_orderpriority, COUNT(*) AS n FROM (
  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
  INTERSECT ALL
  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
) GROUP BY 2
"""


def dd_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD-fuzzy (extension): blocked Levenshtein matching — supplier names
    within edit distance 1, candidates limited to a shared 16-char prefix
    block (llm/dedup.py::fuzzy_pairs). Levenshtein is integer-exact
    cross-engine, so unlike the sketch-based dedups this one oracles."""
    from us_dot_flights_lakehouse_spark.llm.dedup import fuzzy_pairs

    supplier = read_table(spark, sf_dir, "supplier")
    return fuzzy_pairs(
        supplier, "s_name", max_distance=1, block_prefix=16, id_col="s_suppkey"
    )


DD_FUZZY_ORACLE = """
WITH c AS (
  SELECT s_suppkey AS id, s_name AS s, substr(s_name, 1, 16) AS blk FROM supplier
)
SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.s, b.s) AS dist
FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id
WHERE levenshtein(a.s, b.s) <= 1
"""


def j13_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13 (extension): null-safe equality join (``<=>`` / IS NOT
    DISTINCT FROM) — two grouped views of orders keyed by a NULLIF-derived
    key join so that the NULL group on each side pairs up instead of
    silently dropping (plain ``=`` never matches NULL). The null-safe
    predicate stays a hash-join key (both engines hash NULL as a regular
    value under null-safe semantics) — no fallback to nested-loop."""
    orders = read_table(spark, sf_dir, "orders")
    key = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    a = orders.groupBy(key.alias("prio_key")).agg(
        F.count("*").cast("bigint").alias("n_all")
    )
    b = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(key.alias("prio_key"))
        .agg(F.count("*").cast("bigint").alias("n_f"))
    )
    return a.join(b, a["prio_key"].eqNullSafe(b["prio_key"]), "left").select(
        a["prio_key"].alias("prio_key"),
        "n_all",
        F.coalesce(F.col("n_f"), F.lit(0)).cast("bigint").alias("n_f"),
    )


J13_ORACLE = """
WITH a AS (
  SELECT nullif(o_orderpriority, '1-URGENT') AS prio_key, COUNT(*) AS n_all
  FROM orders GROUP BY 1
), b AS (
  SELECT nullif(o_orderpriority, '1-URGENT') AS prio_key, COUNT(*) AS n_f
  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
)
SELECT a.prio_key, a.n_all, COALESCE(b.n_f, 0) AS n_f
FROM a LEFT JOIN b ON a.prio_key IS NOT DISTINCT FROM b.prio_key
"""


RANK_DAMP = "0.85"


RANK_NSALT = 16


def g1_bipartite_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: iterative rank propagation over the customer→supplier
    purchase graph (PageRank's update rule, two rounds on the
    bipartite edge set from lineitem⋈orders): supplier_rank = 0.15 +
    {RANK_DAMP}·Σ cust_rank/outdeg, then customers re-score from
    supplier ranks the same way. Float sums over a graph are
    order-dependent, so the fold order is pinned by construction — and
    per-node task memory is BOUNDED for power-law hubs (VERDICT r5):
    contributions first fold per (node, salt=pmod(neighbor, NSALT)),
    then the NSALT partial sums fold per node. Each level folds its
    plain-double values in ASCENDING VALUE order — deterministic
    without carrying (neighbor, value) structs (ties are equal doubles,
    so their mutual order can't change the fold), measured ~2× cheaper
    than the struct-sorted fold. The oracle mirrors the exact two-level
    value-ordered list_sum.

    Scale: each round is one edge-key join + two node aggregates (the
    second sees ≤ NSALT rows per node); a web-scale hub's in-degree now
    spreads across NSALT (node, salt) groups instead of one
    O(degree)-sized collect_list — raise NSALT with expected hub degree.
    Rounds are a fixed small constant, composed lazily — no driver loop
    state."""
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")

    def edges_keyed(key: str) -> DataFrame:
        # ONE explicit keyed exchange, then dedupe in place: a bare
        # .distinct() would pay a (cust, supp) exchange AND leave its
        # partial dedup on the single scan task of the one-row-group
        # file; HashPartitioning(key) satisfies the (cust, supp) dedup's
        # clustering requirement (subset rule), so the SAME exchange
        # also serves every downstream operation keyed the same way
        # (r13/r14, guide §2.4). The e1 branch keys by cust (cust_out's
        # groupBy + e1's join ride it); the e2 branch keys by supp (the
        # s_rank join rides it — before r14 that branch paid a cust
        # dedup exchange AND a supp re-exchange).
        return (
            lineitem.select("l_orderkey", "l_suppkey")
            .join(
                orders.select("o_orderkey", "o_custkey"),
                lineitem["l_orderkey"] == orders["o_orderkey"],
            )
            .select(
                F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
            )
            .repartition(spark.sparkContext.defaultParallelism, F.col(key))
            .dropDuplicates(["cust", "supp"])
        )

    edges_c = edges_keyed("cust")
    cust_out = edges_c.groupBy("cust").agg(F.count("*").alias("c_deg"))
    damp = F.lit(float(RANK_DAMP))

    def fold_sorted(col_name: str):
        return F.aggregate(
            F.array_sort(F.collect_list(col_name)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def salted_rank(
        contribs: DataFrame, node: str, out_name: str, deg_name: str | None = None
    ) -> DataFrame:
        """contribs(node, k, v) -> (node, out_name): fold v per
        (node, pmod(k, NSALT)) in ascending-v order, then fold the salt
        partials per node in ascending-partial order. With ``deg_name``
        the SAME aggregates also emit the node's contribution count —
        one row per edge in every caller, so it equals the node's degree
        and replaces a separate degree aggregate over a third full edge
        recompute (r14: the g1 plan carried four scan+join+dedup copies
        of the edge subtree; this folds the supp_out copy away)."""
        salted = contribs.withColumn(
            "_salt", F.pmod(F.col("k"), F.lit(RANK_NSALT))
        )
        partial_aggs = [fold_sorted("v").alias("_p")]
        if deg_name is not None:
            partial_aggs.append(F.count("*").alias("_c"))
        partial = salted.groupBy(node, "_salt").agg(*partial_aggs)
        final_aggs = [(F.lit(0.15) + damp * fold_sorted("_p")).alias(out_name)]
        if deg_name is not None:
            final_aggs.append(F.sum("_c").alias(deg_name))
        return partial.groupBy(node).agg(*final_aggs)

    # round 1: uniform cust_rank = 1.0 -> suppliers. s_deg rides the same
    # two aggregates (e1 has exactly one row per distinct edge — the
    # inner join against cust_out cannot drop or duplicate rows, since
    # cust_out is an aggregate OF edges).
    #
    # Join strategy (guide §3.1, r14): the node joins build on the degree/
    # rank tables — NARROW aggregates (two numeric columns, |nodes| rows,
    # |nodes|/N per partition at any scale) against the wider edge
    # stream. SHUFFLE_HASH drops the four SMJ sorts; both sides already
    # share the build side's HashPartitioning, so no exchange moves.
    # Interleaved A/B at sf0.1: 2.59 → 1.58 s median (5×5 reps).
    e1 = edges_c.join(cust_out.hint("SHUFFLE_HASH"), "cust").select(
        "supp",
        F.col("cust").alias("k"),
        (F.lit(1.0) / F.col("c_deg").cast("double")).alias("v"),
    )
    s_rank = salted_rank(e1, "supp", "s_rank", deg_name="s_deg")
    # round 2: suppliers -> customers
    e2 = edges_keyed("supp").join(s_rank.hint("SHUFFLE_HASH"), "supp").select(
        "cust",
        F.col("supp").alias("k"),
        (F.col("s_rank") / F.col("s_deg").cast("double")).alias("v"),
    )
    c_rank = salted_rank(e2, "cust", "cust_rank")
    return c_rank.select(F.col("cust").alias("custkey"), "cust_rank")


G1_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), cdeg AS (
  SELECT cust, count(*) AS c_deg FROM edges GROUP BY 1
), sdeg AS (
  SELECT supp, count(*) AS s_deg FROM edges GROUP BY 1
), spart AS (
  -- mirror the engine's hub-bounded two-level fold: per-(node, salt)
  -- value-ordered partial sums, then partials folded per node in
  -- ascending-partial order (ties are equal doubles — order-free)
  SELECT supp, cust % {RANK_NSALT} AS salt,
         list_sum(list(CAST(1.0 AS DOUBLE) / CAST(c_deg AS DOUBLE)
                       ORDER BY CAST(1.0 AS DOUBLE) / CAST(c_deg AS DOUBLE)))
           AS p
  FROM edges JOIN cdeg USING (cust)
  GROUP BY supp, salt
), srank AS (
  SELECT supp,
         CAST(0.15 AS DOUBLE) + CAST({RANK_DAMP} AS DOUBLE)
           * list_sum(list(p ORDER BY p)) AS s_rank
  FROM spart GROUP BY supp
), cpart AS (
  SELECT cust, supp % {RANK_NSALT} AS salt,
         list_sum(list(s_rank / CAST(s_deg AS DOUBLE)
                       ORDER BY s_rank / CAST(s_deg AS DOUBLE))) AS p
  FROM edges JOIN srank USING (supp) JOIN sdeg USING (supp)
  GROUP BY cust, salt
), crank AS (
  SELECT cust,
         CAST(0.15 AS DOUBLE) + CAST({RANK_DAMP} AS DOUBLE)
           * list_sum(list(p ORDER BY p)) AS cust_rank
  FROM cpart GROUP BY cust
)
SELECT cust AS custkey, cust_rank FROM crank
"""


def j17_interval_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J17: interval-overlap alignment join — align each user's daily
    activity interval [first event, last event] with that day's
    corpus-wide PEAK window (the modal 2-hour block, derived per day
    from all events; ties break to the earliest hour) and report the
    overlap. The time-alignment primitive behind ad attribution,
    on-call overlap, and co-activity features: two interval sets joined
    on a coarse band (the day), with the precise overlap computed
    arithmetically inside the band — never an unbanded inequality
    join.

    Scale: both sides aggregate to day grain before the equi-join on
    day; the peak-window side is day-cardinality (broadcastable).
    Overlap math is exact integer epoch MICROseconds (second-grain
    epochs would truncate the sub-second event timestamps differently
    per engine)."""
    events = read_table(spark, sf_dir, "events")
    user_day = events.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.min(F.unix_micros("ts")).alias("a_start"),
        F.max(F.unix_micros("ts")).alias("a_end"),
        F.count("*").alias("n_events"),
    )
    hour_counts = events.groupBy(
        F.to_date("ts").alias("day"), F.hour("ts").alias("h")
    ).agg(F.count("*").alias("c"))
    pick = W.partitionBy("day").orderBy(F.col("c").desc(), F.col("h"))
    hour_us = 3_600_000_000
    peak = (
        hour_counts.withColumn("rn", F.row_number().over(pick))
        .filter("rn = 1")
        .select(
            "day",
            (
                F.unix_micros(F.col("day").cast("timestamp"))
                + F.col("h") * hour_us
            ).alias("w_start"),
            (
                F.unix_micros(F.col("day").cast("timestamp"))
                + (F.col("h") + 2) * hour_us
            ).alias("w_end"),
            F.col("h").alias("peak_hour"),
        )
    )
    j = user_day.join(F.broadcast(peak), "day")
    overlap = F.greatest(
        F.lit(0).cast("long"),
        F.least("a_end", "w_end") - F.greatest("a_start", "w_start"),
    )
    active = F.col("a_end") - F.col("a_start")
    return j.select(
        "user_id",
        "day",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("peak_hour").cast("int").alias("peak_hour"),
        active.cast("long").alias("active_us"),
        overlap.cast("long").alias("peak_overlap_us"),
        F.when(active > 0, overlap.cast("double") / active.cast("double")).alias(
            "peak_frac"
        ),
    )


J17_ORACLE = """
WITH user_day AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         min(epoch_us(ts)) AS a_start, max(epoch_us(ts)) AS a_end,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
), hour_counts AS (
  SELECT CAST(ts AS DATE) AS day, hour(ts) AS h, count(*) AS c
  FROM events GROUP BY 1, 2
), peak AS (
  SELECT day, h AS peak_hour,
         epoch_us(CAST(day AS TIMESTAMP)) + h * 3600000000 AS w_start,
         epoch_us(CAST(day AS TIMESTAMP)) + (h + 2) * 3600000000 AS w_end
  FROM (SELECT *, row_number() OVER (PARTITION BY day
                                     ORDER BY c DESC, h) AS rn
        FROM hour_counts)
  WHERE rn = 1
)
SELECT user_id, u.day, CAST(n_events AS BIGINT) AS n_events,
       CAST(peak_hour AS INTEGER) AS peak_hour,
       CAST(a_end - a_start AS BIGINT) AS active_us,
       CAST(greatest(0, least(a_end, w_end) - greatest(a_start, w_start))
            AS BIGINT) AS peak_overlap_us,
       CASE WHEN a_end > a_start
            THEN CAST(greatest(0, least(a_end, w_end)
                               - greatest(a_start, w_start)) AS DOUBLE)
                 / CAST(a_end - a_start AS DOUBLE)
       END AS peak_frac
FROM user_day u JOIN peak p ON u.day = p.day
"""


#: co-purchase graph guard: orders with more than this many distinct
#: parts are dropped from edge generation (quadratic in basket size)
TRIANGLE_MAX_BASKET = 30


#: deterministic node-sample modulus (keep parts ≡ 0 mod this): the
#: DOULION-style sampled triangle census — under node sampling with
#: rate p the triangle count estimates the full graph's count / p³,
#: at p²-smaller edge volume and p³-smaller wedge-join cost
TRIANGLE_NODE_MOD = 20


def g2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: triangle counting on the part co-purchase graph — the
    clustering/community-density primitive (friend-of-friend closure).
    Uses the DEGREE-ORDERED ORIENTATION algorithm: orient every edge
    from its (degree, id)-smaller endpoint to the larger, enumerate
    wedges by joining directed edges on their common source, and close
    each wedge with a semi-join back to the directed edge set. The
    orientation bounds per-source out-degree by O(√|E|), so the wedge
    join is near-linear even on power-law graphs — the naive
    common-neighbor join explodes on hub nodes. Per-node triangle
    counts come from exploding each closed triangle to its 3 corners.
    The census runs on a DETERMINISTIC node sample (parts ≡ 0 mod
    {TRIANGLE_NODE_MOD}) — DOULION-style: with node rate p the sampled
    count estimates total/p³ at p³ the wedge-join cost (this graph's
    full wedge set is 41M rows at sf0.1; the sample's is thousands).
    Drop the gate for the exact census when the cluster can pay it.

    Scale: edge generation expands pairs INSIDE capped per-order
    baskets; the wedge and closure joins shuffle on node keys. At
    100 TB this is exactly the plan a dedicated graph engine runs."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    baskets = (
        # r13: node gate filters ROWS before the aggregate (commutes with
        # collect_set) so 1/MOD of lineitem shuffles — see _copurchase_edges
        lineitem.select("l_orderkey", "l_partkey")
        .filter(F.pmod(F.col("l_partkey"), F.lit(TRIANGLE_NODE_MOD)) == 0)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
        # filter BEFORE pair expansion: size<2 would make sequence(1, 0)
        # generate a DESCENDING range, and oversized baskets are the
        # quadratic guard
        .filter(
            (F.size("items") >= 2) & (F.size("items") <= TRIANGLE_MAX_BASKET)
        )
    )
    n = F.size("items")
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, n),
                        lambda j: F.struct(
                            F.element_at("items", i).alias("a"),
                            F.element_at("items", j).alias("b"),
                        ),
                    ),
                )
            )
        ).alias("e")
    ).select("e.a", "e.b").distinct().localCheckpoint()
    # ^ materialized once (r13): deg (twice via the union), with_deg and
    # the final join otherwise re-run the basket expansion per branch
    deg = (
        pairs.select(F.col("a").alias("v"))
        .unionAll(pairs.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    with_deg = (
        pairs.join(da, F.col("a") == F.col("da.v"))
        .join(db, F.col("b") == F.col("db.v"))
        .select(
            "a", "b", F.col("da.d").alias("d_a"), F.col("db.d").alias("d_b")
        )
    )
    # orient low (deg, id) -> high (deg, id)
    fwd = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("a") < F.col("b"))
    )
    directed = with_deg.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("d_b")).otherwise(F.col("d_a")).alias("d_dst"),
    ).localCheckpoint()  # three consumers: both wedge sides + closer
    e1, e2 = directed.alias("e1"), directed.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (
            (F.col("e1.d_dst") < F.col("e2.d_dst"))
            | (
                (F.col("e1.d_dst") == F.col("e2.d_dst"))
                & (F.col("e1.dst") < F.col("e2.dst"))
            )
        ),
    ).select(
        F.col("e1.src").alias("u"),
        F.col("e1.dst").alias("v"),
        F.col("e2.dst").alias("w"),
    )
    closer = directed.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closer, ["v", "w"], "left_semi").localCheckpoint()
    # ^ the three-corner union otherwise re-runs the wedge join 3x
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        deg.join(corners, deg.v == corners.node, "left")
        .select(
            F.col("v").alias("p_partkey"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
    )


G2_ORACLE = f"""
WITH baskets AS (
  SELECT l_orderkey,
         list_filter(list_distinct(list(l_partkey)),
                     p -> p % {TRIANGLE_NODE_MOD} = 0) AS items
  FROM lineitem GROUP BY 1
), pairs AS (
  SELECT DISTINCT least(x.p, y.p) AS a, greatest(x.p, y.p) AS b
  FROM baskets,
       unnest(items) AS x(p),
       unnest(items) AS y(p)
  WHERE len(items) <= {TRIANGLE_MAX_BASKET} AND x.p < y.p
), deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM pairs UNION ALL SELECT b AS v FROM pairs
  ) GROUP BY 1
), directed AS (
  SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS src,
         CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS dst,
         CASE WHEN (da.d, a) < (db.d, b) THEN db.d ELSE da.d END AS d_dst
  FROM pairs JOIN deg da ON a = da.v JOIN deg db ON b = db.v
), tri AS (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM directed e1 JOIN directed e2
    ON e1.src = e2.src
   AND (e1.d_dst, e1.dst) < (e2.d_dst, e2.dst)
  WHERE EXISTS (SELECT 1 FROM directed d
                WHERE d.src = e1.dst AND d.dst = e2.dst)
)
SELECT deg.v AS p_partkey, CAST(deg.d AS BIGINT) AS degree,
       CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles
FROM deg LEFT JOIN (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri
  ) GROUP BY 1
) c ON deg.v = c.node
"""


KCORE_K = 3


KCORE_ROUNDS = 3


def _copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """The sampled part co-purchase edge list shared by the iterative
    graph queries (g3 k-core, g4 label propagation): g2's deterministic
    node gate (part ≡ 0 mod TRIANGLE_NODE_MOD) and basket cap, pairs
    expanded INSIDE capped baskets, distinct undirected (a < b) edges.
    localCheckpointed ONCE — every iteration round re-references the
    edge list, and lazy lineage would re-run the basket explosion per
    round (measured 29 s → 5 s on g3); same hygiene as dup_clusters.

    r13 (guide §2.2 shuffle fewer bytes): the node gate filters ROWS
    before the basket aggregate instead of elements inside the collected
    array — an element-wise predicate commutes with collect_set, so the
    baskets are identical while only 1/{TRIANGLE_NODE_MOD} of lineitem
    shuffles into the groupBy (and the collect_set partials fold 20×
    fewer values)."""
    baskets = (
        lineitem.select("l_orderkey", "l_partkey")
        .filter(F.pmod(F.col("l_partkey"), F.lit(TRIANGLE_NODE_MOD)) == 0)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
        .filter(
            (F.size("items") >= 2) & (F.size("items") <= TRIANGLE_MAX_BASKET)
        )
    )
    n = F.size("items")
    return (
        baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), n - 1),
                        lambda i: F.transform(
                            F.sequence(i + 1, n),
                            lambda j: F.struct(
                                F.element_at("items", i).alias("a"),
                                F.element_at("items", j).alias("b"),
                            ),
                        ),
                    )
                )
            ).alias("e")
        )
        .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
        .distinct()
        .localCheckpoint()
    )


def g3_kcore_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: bounded k-core peeling on the part co-purchase graph — the
    community-density filter that strips low-engagement leaves so that
    downstream graph ops (triangles, rank propagation) run on the
    cohesive core. {KCORE_ROUNDS} synchronous peel rounds at K=
    {KCORE_K}: each round drops every node whose CURRENT degree is
    < K together with its edges (the parallel-peeling formulation —
    full coreness would iterate to fixpoint; a bounded round count
    keeps the plan finite and is itself the standard bulk-synchronous
    scheme). Output: every node of the sampled graph with its initial
    degree, final degree (0 if peeled) and the round it was peeled
    (NULL = survivor).

    Uses g2's deterministic node-sample gate (part ≡ 0 mod
    {TRIANGLE_NODE_MOD}) and basket cap so both graph queries share
    one documented subgraph.

    Scale: each round is one degree aggregate + two semi-joins on node
    keys — {KCORE_ROUNDS}× the edge-list cost, no quadratic term; the
    peeled-node set only shrinks."""
    edges = _copurchase_edges(read_table(spark, sf_dir, "lineitem"))

    def degrees(e: DataFrame) -> DataFrame:
        both = e.select(F.col("a").alias("v")).unionAll(
            e.select(F.col("b").alias("v"))
        )
        return both.groupBy("v").agg(F.count("*").cast("bigint").alias("d"))

    deg0 = degrees(edges)
    cur = edges
    peeled = None  # (v, peel_round)
    for rnd in range(1, KCORE_ROUNDS + 1):
        deg = degrees(cur)
        dropped = deg.filter(F.col("d") < KCORE_K).select(
            "v", F.lit(rnd).cast("int").alias("peel_round")
        )
        peeled = dropped if peeled is None else peeled.unionByName(dropped)
        keep = deg.filter(F.col("d") >= KCORE_K).select("v")
        cur = cur.join(
            keep.withColumnRenamed("v", "a"), "a", "left_semi"
        ).join(keep.withColumnRenamed("v", "b"), "b", "left_semi").localCheckpoint()
    final_deg = degrees(cur)
    return (
        deg0.withColumnRenamed("d", "degree0")
        .join(peeled, "v", "left")
        .join(final_deg.withColumnRenamed("d", "degree_final"), "v", "left")
        .select(
            F.col("v").alias("p_partkey"),
            "degree0",
            F.coalesce("degree_final", F.lit(0)).cast("bigint").alias(
                "degree_final"
            ),
            "peel_round",
        )
    )


def _g3_oracle() -> str:
    # MATERIALIZED evaluates each peel round once: e{r} reads e{r-1} three
    # times (directly and through deg/drop), and DuckDB inlining those
    # references re-ran the earlier rounds (4 threads: 3.6 s and over
    # 4 GB at sf0.001, out of memory at sf0.1; materialized, 0.04 s and
    # 1.4 s under a 4 GB cap)
    peel = """
, deg{r} AS MATERIALIZED (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM e{p} UNION ALL SELECT b AS v FROM e{p}
  ) GROUP BY 1
), drop{r} AS MATERIALIZED (SELECT v FROM deg{r} WHERE d < {K})
, e{r} AS MATERIALIZED (
  SELECT a, b FROM e{p}
  WHERE a NOT IN (SELECT v FROM drop{r})
    AND b NOT IN (SELECT v FROM drop{r})
)"""
    body = "".join(
        peel.format(r=r, p=r - 1 if r > 1 else "0", K=KCORE_K)
        for r in range(1, KCORE_ROUNDS + 1)
    )
    peeled_union = " UNION ALL ".join(
        f"SELECT v, {r} AS peel_round FROM drop{r}"
        for r in range(1, KCORE_ROUNDS + 1)
    )
    last = KCORE_ROUNDS
    return f"""
WITH baskets AS (
  SELECT l_orderkey,
         list_filter(list_distinct(list(l_partkey)),
                     p -> p % {TRIANGLE_NODE_MOD} = 0) AS items
  FROM lineitem GROUP BY 1
), e0 AS (
  SELECT DISTINCT least(x.p, y.p) AS a, greatest(x.p, y.p) AS b
  FROM baskets,
       unnest(items) AS x(p),
       unnest(items) AS y(p)
  WHERE len(items) >= 2 AND len(items) <= {TRIANGLE_MAX_BASKET} AND x.p < y.p
), deg0_ AS (
  SELECT v, CAST(count(*) AS BIGINT) AS degree0 FROM (
    SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0
  ) GROUP BY 1
){body}
, peeled AS ({peeled_union})
, fdeg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS degree_final FROM (
    SELECT a AS v FROM e{last} UNION ALL SELECT b AS v FROM e{last}
  ) GROUP BY 1
)
SELECT d.v AS p_partkey, d.degree0,
       CAST(coalesce(f.degree_final, 0) AS BIGINT) AS degree_final,
       CAST(p.peel_round AS INTEGER) AS peel_round
FROM deg0_ d
LEFT JOIN peeled p ON d.v = p.v
LEFT JOIN fdeg f ON d.v = f.v
"""


LPA_ROUNDS = 3


#: Edge cap for resolving the LPA rounds on the driver (g4): below it the
#: bounded collect + numpy kernel replaces 2 scheduler-bound Spark jobs
#: per round; above it the distributed bulk-synchronous loop runs
#: unchanged.
DRIVER_LPA_MAX_EDGES = 2_000_000


def _g4_driver_lpa(spark: SparkSession, tbl) -> DataFrame:
    """g4's cap-bounded driver path: over the collected (a, b) edge
    table, run LPA_ROUNDS synchronous rounds with the exact plan-side
    vote/argmax semantics — votes are every neighbor's label plus the
    node's own, winner by (count desc, label asc) — and return
    (p_partkey, community, community_size) as a local relation."""
    import numpy as np

    a = tbl.column("a").to_numpy(zero_copy_only=False).astype("int64")
    b = tbl.column("b").to_numpy(zero_copy_only=False).astype("int64")
    nodes = np.unique(np.concatenate([a, b]))
    n = nodes.size
    if n == 0:
        return spark.createDataFrame(
            [], "p_partkey bigint, community bigint, community_size bigint"
        )
    src = np.concatenate([np.searchsorted(nodes, a), np.searchsorted(nodes, b)])
    dst = np.concatenate([np.searchsorted(nodes, b), np.searchsorted(nodes, a)])
    labels = nodes.copy()  # initial label = own id
    self_v = np.arange(n)
    for _ in range(LPA_ROUNDS):
        v = np.concatenate([src, self_v])
        lbl = np.concatenate([labels[dst], labels])
        # count votes per (v, lbl): rank-compress labels so the combined
        # key stays within int64 for any id range
        lbl_values = np.unique(lbl)
        k = lbl_values.size
        lbl_rank = np.searchsorted(lbl_values, lbl)
        uniq, cnt = np.unique(v * k + lbl_rank, return_counts=True)
        uv = uniq // k  # uniq is sorted => (v asc, lbl asc) within each v
        # winner per v by (count desc, label asc): a STABLE sort on
        # -count keeps the smallest label first among equal counts —
        # exactly the plan side's max(struct(c, -lbl))
        order = np.argsort(-cnt, kind="stable")
        vs, first_idx = np.unique(uv[order], return_index=True)
        # every v has a self-vote, so vs == arange(n) exactly
        winners = order[first_idx]
        labels = lbl_values[uniq[winners] % k]
    _, comm_inv, comm_cnt = np.unique(
        labels, return_inverse=True, return_counts=True
    )
    sizes = comm_cnt[comm_inv]
    rows = [
        (int(nodes[i]), int(labels[i]), int(sizes[i])) for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "p_partkey bigint, community bigint, community_size bigint"
    )


def g4_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: community detection by synchronous label propagation (LPA,
    Raghavan et al. 2007) on the part co-purchase graph — {LPA_ROUNDS}
    bulk-synchronous rounds where every node adopts the label most
    frequent among its neighbors PLUS its own current label (the
    self-vote damps oscillation on bipartite-ish structure), ties to the
    SMALLEST label so every round is deterministic — unlike classic
    random-tie LPA, this variant is engine-reproducible, which is what
    makes an oracle possible. Completes the graph family: g1 ranks, g2
    counts triangles, g3 peels cores, g4 names the communities. Output:
    (node, community, community_size).

    Scale: per round one neighbor-label join + one (node, label) count
    + one per-node argmax — all edge-scale equi-shuffles on the shared
    checkpointed edge list; label state is one row per node.

    r13 (guide §5 bounded driver actions): below DRIVER_LPA_MAX_EDGES
    one ``bounded_arrow`` collect of the already-checkpointed edge list
    feeds rounds vectorized on the driver (the distributed loop paid
    2 scheduler-bound Spark jobs per round for a few-thousand-edge
    sampled graph); the argmax replicates max(struct(c, -lbl)) exactly
    — (count desc, label asc) — so labels are identical by construction
    (property-tested against the distributed loop). Above the cap the
    bulk-synchronous loop below runs unchanged."""
    edges = _copurchase_edges(read_table(spark, sf_dir, "lineitem"))
    tbl = bounded_arrow(edges, DRIVER_LPA_MAX_EDGES)
    if tbl is not None:
        return _g4_driver_lpa(spark, tbl)
    nbr = edges.select(
        F.col("a").alias("v"), F.col("b").alias("u")
    ).unionAll(edges.select(F.col("b").alias("v"), F.col("a").alias("u")))
    nodes = nbr.select("v").distinct()
    labels = nodes.select("v", F.col("v").alias("lbl"))
    for _ in range(LPA_ROUNDS):
        votes = nbr.join(
            labels.select(F.col("v").alias("u"), "lbl"), "u"
        ).select("v", "lbl").unionAll(labels.select("v", "lbl"))
        counts = votes.groupBy("v", "lbl").agg(
            F.count("*").cast("bigint").alias("c")
        )
        # argmax by (count desc, label asc): max(struct(c, -lbl))
        best = counts.groupBy("v").agg(
            F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m")
        )
        labels = best.select("v", (-F.col("m.nl")).alias("lbl")).localCheckpoint()
    sizes = labels.groupBy("lbl").agg(
        F.count("*").cast("bigint").alias("community_size")
    )
    return labels.join(sizes, "lbl").select(
        F.col("v").alias("p_partkey"),
        F.col("lbl").alias("community"),
        "community_size",
    )


def _g4_oracle() -> str:
    rounds = []
    for r in range(1, LPA_ROUNDS + 1):
        p = r - 1
        rounds.append(f"""
, votes{r} AS (
  SELECT n.v, l.lbl FROM nbr n JOIN labels{p} l ON n.u = l.v
  UNION ALL SELECT v, lbl FROM labels{p}
), counts{r} AS (
  SELECT v, lbl, count(*) AS c FROM votes{r} GROUP BY 1, 2
), labels{r} AS (
  SELECT v, lbl FROM (
    SELECT v, lbl,
           ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
    FROM counts{r}
  ) WHERE rn = 1
)""")
    last = LPA_ROUNDS
    return f"""
WITH baskets AS (
  SELECT l_orderkey,
         list_filter(list_distinct(list(l_partkey)),
                     p -> p % {TRIANGLE_NODE_MOD} = 0) AS items
  FROM lineitem GROUP BY 1
), e AS (
  SELECT DISTINCT least(x.p, y.p) AS a, greatest(x.p, y.p) AS b
  FROM baskets,
       unnest(items) AS x(p),
       unnest(items) AS y(p)
  WHERE len(items) >= 2 AND len(items) <= {TRIANGLE_MAX_BASKET} AND x.p < y.p
), nbr AS (
  SELECT a AS v, b AS u FROM e UNION ALL SELECT b AS v, a AS u FROM e
), labels0 AS (
  SELECT DISTINCT v, v AS lbl FROM nbr
){"".join(rounds)}
, sizes AS (
  SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
  FROM labels{last} GROUP BY 1
)
SELECT l.v AS p_partkey, l.lbl AS community, s.community_size
FROM labels{last} l JOIN sizes s ON l.lbl = s.lbl
"""


J18_SALTS = 8


def j18_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J18 (extension): the salted skew join gets an ORACLE surface —
    ``operators/joins.py::salted_join`` (previously unit-only, X-family)
    joins the event stream to per-user profile aggregates with the key
    widened by {J18_SALTS} salts, then rolls up per event type. The
    oracle recomputes the rollup from a PLAIN join, so any salting bug
    (dropped salt lanes, replication miscount, residual salt columns)
    hash-fails. Counts are exact BIGINTs; the one ratio is a single
    double division.

    Scale: salting re-shards a hot key across {J18_SALTS} tasks at the
    cost of replicating the other side {J18_SALTS}× — the right trade
    when the replicated side is over the broadcast threshold and one
    key dominates (else broadcast, or let AQE skew-split)."""
    from us_dot_flights_lakehouse_spark.operators.joins import salted_join

    events = read_table(spark, sf_dir, "events")
    profiles = (
        events.groupBy(F.col("user_id").alias("p_user"))
        .agg(F.count("*").cast("bigint").alias("user_total_events"))
    )
    joined = salted_join(
        events.select("event_id", "user_id", "event_type"),
        profiles,
        "user_id",
        "p_user",
        n_salts=J18_SALTS,
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("user_total_events").cast("bigint").alias("sum_user_totals"),
        )
        .select(
            "event_type",
            "n_events",
            "sum_user_totals",
            (
                F.col("sum_user_totals").cast("double")
                / F.col("n_events").cast("double")
            ).alias("avg_user_activity"),
        )
    )


J18_ORACLE = """
WITH profiles AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS user_total_events
  FROM events GROUP BY 1
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(p.user_total_events) AS BIGINT) AS sum_user_totals,
       CAST(sum(p.user_total_events) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS avg_user_activity
FROM events e JOIN profiles p USING (user_id)
GROUP BY 1
"""


G5_MAX_DEG = 50


G5_TOPK = 20


def g5_neighbor_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 (extension): supplier-pair neighbor overlap — for every pair
    of suppliers serving a common customer, the shared-customer count
    and neighbor-set Jaccard (the SimRank-lite structural-similarity
    signal; completes the graph family: g1 rank, g2 triangles, g3 cores,
    g4 communities, g5 similarity). Pair generation happens INSIDE each
    customer's sorted supplier array (the a22 in-array expansion — no
    edge-table self-join); customers with more than {G5_MAX_DEG}
    suppliers are EXCLUDED as hubs before pairing (a k-supplier customer
    emits k²/2 pairs, so by the same Zipf argument as the containment
    stop-shingle cap the hot tail would dominate at scale; the oracle
    applies the identical cap, so semantics stay hash-checked). Top
    {G5_TOPK} pairs by shared count, deterministic tie-break.

    Scale: shuffles are the edge distinct, the customer collect, the
    pair count, and two broadcast degree joins — pair volume is bounded
    by cap²/2 per customer."""
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    edges = lineitem.join(
        orders.select("o_orderkey", "o_custkey"),
        lineitem["l_orderkey"] == orders["o_orderkey"],
    ).select(
        F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
    )
    # no .distinct() before the groupBy: collect_set dedupes per
    # customer anyway, so the separate (cust, supp)-keyed exchange the
    # distinct paid was pure overhead (r13, guide §2.4 — a `distinct`
    # on data the next aggregate dedupes is an accidental shuffle). The
    # explicit cust repartition replaces it with the ONE exchange the
    # aggregation needs and moves the set-building off the single scan
    # task of the one-row-group file onto all cores (a bare groupBy
    # would run its object-hash partial on that one task).
    adj = (
        edges.repartition(
            spark.sparkContext.defaultParallelism, F.col("cust")
        )
        .groupBy("cust")
        .agg(F.array_sort(F.collect_set("supp")).alias("supps"))
        .filter(F.size("supps") <= G5_MAX_DEG)
    )
    kept_edges = adj.select("cust", F.explode("supps").alias("supp"))
    deg = kept_edges.groupBy("supp").agg(
        F.count("*").cast("bigint").alias("deg")
    )
    # single-supplier customers contribute no pairs — drop them BEFORE
    # the O(k²) expansion (degrees above still count their edges)
    pairs = adj.filter(F.size("supps") >= 2).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("supps"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("supps"),
                            i + 2,
                            F.greatest(F.size("supps") - i - 1, F.lit(0)),
                        ),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.a").alias("supp_a"), F.col("p.b").alias("supp_b"))
    shared = pairs.groupBy("supp_a", "supp_b").agg(
        F.count("*").cast("bigint").alias("n_shared")
    )
    scored = (
        shared.join(
            F.broadcast(
                deg.select(F.col("supp").alias("supp_a"), F.col("deg").alias("deg_a"))
            ),
            "supp_a",
        )
        .join(
            F.broadcast(
                deg.select(F.col("supp").alias("supp_b"), F.col("deg").alias("deg_b"))
            ),
            "supp_b",
        )
        .select(
            "supp_a",
            "supp_b",
            "n_shared",
            "deg_a",
            "deg_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_shared")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("n_shared"), F.asc("supp_a"), F.asc("supp_b")
    ).limit(G5_TOPK)


G5_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), keep AS (
  SELECT cust FROM edges GROUP BY cust HAVING count(*) <= {G5_MAX_DEG}
), ke AS (
  SELECT e.cust, e.supp FROM edges e JOIN keep USING (cust)
), deg AS (
  SELECT supp, CAST(count(*) AS BIGINT) AS deg FROM ke GROUP BY 1
), pairs AS (
  SELECT a.supp AS supp_a, b.supp AS supp_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM ke a JOIN ke b ON a.cust = b.cust AND a.supp < b.supp
  GROUP BY 1, 2
)
SELECT p.supp_a, p.supp_b, p.n_shared, da.deg AS deg_a, db.deg AS deg_b,
       CAST(p.n_shared AS DOUBLE)
         / CAST(da.deg + db.deg - p.n_shared AS DOUBLE) AS jaccard
FROM pairs p
JOIN deg da ON p.supp_a = da.supp
JOIN deg db ON p.supp_b = db.supp
ORDER BY p.n_shared DESC, p.supp_a ASC, p.supp_b ASC
LIMIT {G5_TOPK}
"""


QUERIES = {
    "j1_enrich_lookup_join": j1_enrich_lookup_join,
    "j2_star_fact_build": j2_star_fact_build,
    "j4_outer_merge_daily_flow": j4_outer_merge_daily_flow,
    "j7_anti_customers_without_orders": j7_anti_customers_without_orders,
    "u1_union_distinct_nations": u1_union_distinct_nations,
    "j6_semi_high_value_customers": j6_semi_high_value_customers,
    "u2_intersect_except_nations": u2_intersect_except_nations,
    "j8_asof_purchase_attribution": j8_asof_purchase_attribution,
    "j9_range_join_price_bands": j9_range_join_price_bands,
    "j10_regional_revenue": j10_regional_revenue,
    "j11_clickstream_interval_join": j11_clickstream_interval_join,
    "j12_lateral_topk_orders": j12_lateral_topk_orders,
    "u4_union_schema_evolution": u4_union_schema_evolution,
    "u3_multiset_ops": u3_multiset_ops,
    "dd_fuzzy_name_pairs": dd_fuzzy_name_pairs,
    "j13_nullsafe_join": j13_nullsafe_join,
    "g1_bipartite_rank": g1_bipartite_rank,
    "j17_interval_align": j17_interval_align,
    "g2_triangle_count": g2_triangle_count,
    "g3_kcore_decompose": g3_kcore_decompose,
    "g4_label_propagation": g4_label_propagation,
    "j18_salted_skew_join": j18_salted_skew_join,
    "g5_neighbor_overlap": g5_neighbor_overlap,
}

ORACLES = {
    "j1_enrich_lookup_join": J1_ORACLE,
    "j2_star_fact_build": J2_ORACLE,
    "j4_outer_merge_daily_flow": J4_ORACLE,
    "j7_anti_customers_without_orders": J7_ORACLE,
    "u1_union_distinct_nations": U1_ORACLE,
    "j6_semi_high_value_customers": J6_ORACLE,
    "u2_intersect_except_nations": U2_ORACLE,
    "j8_asof_purchase_attribution": J8_ORACLE,
    "j9_range_join_price_bands": J9_ORACLE,
    "j10_regional_revenue": J10_ORACLE,
    "j11_clickstream_interval_join": J11_ORACLE,
    "j12_lateral_topk_orders": J12_ORACLE,
    "u4_union_schema_evolution": U4_ORACLE,
    "u3_multiset_ops": U3_ORACLE,
    "dd_fuzzy_name_pairs": DD_FUZZY_ORACLE,
    "j13_nullsafe_join": J13_ORACLE,
    "g1_bipartite_rank": G1_ORACLE,
    "j17_interval_align": J17_ORACLE,
    "g2_triangle_count": G2_ORACLE,
    "g3_kcore_decompose": _g3_oracle(),
    "g4_label_propagation": _g4_oracle(),
    "j18_salted_skew_join": J18_ORACLE,
    "g5_neighbor_overlap": G5_ORACLE,
}
