"""Scalar-function suites (f_*) and projection/sampling/ordering ops (p*, o*, s*).

The module owns its catalog entries (``QUERIES``/``ORACLES`` at the end).
See the package ``__init__`` for the cross-engine determinism contract.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from us_dot_flights_lakehouse_spark.operators.aggregates import conditional_count
from us_dot_flights_lakehouse_spark.operators.generators import date_range_df
from us_dot_flights_lakehouse_spark.sources.readers import (
    read_corpus,
    read_table,
    spread_scan,
)


def o3_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: date-dimension generator — sequence(interval 1 day) + explode +
    calendar attributes (reference dim_date.py:10-30). sf_dir unused: the
    spine is synthesized, as in the reference."""
    spine = date_range_df(spark, "1995-01-01", "1996-12-31")
    return spine.select(
        F.date_format("full_date", "yyyyMMdd").cast("int").alias("date_key"),
        F.col("full_date"),
        F.year("full_date").alias("year"),
        F.quarter("full_date").alias("quarter"),
        F.month("full_date").alias("month"),
        F.dayofmonth("full_date").alias("day_of_month"),
        F.weekofyear("full_date").alias("week_of_year"),
        F.dayofweek("full_date").alias("day_of_week"),
        F.dayofweek("full_date").isin(1, 7).alias("is_weekend"),
    )


O3_ORACLE = """
SELECT
  CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_key,
  CAST(d AS DATE) AS full_date,
  CAST(year(d) AS INTEGER) AS year,
  CAST(quarter(d) AS INTEGER) AS quarter,
  CAST(month(d) AS INTEGER) AS month,
  CAST(day(d) AS INTEGER) AS day_of_month,
  CAST(weekofyear(d) AS INTEGER) AS week_of_year,
  CAST(dayofweek(d) + 1 AS INTEGER) AS day_of_week,
  dayofweek(d) IN (0, 6) AS is_weekend
FROM (SELECT UNNEST(generate_series(DATE '1995-01-01', DATE '1996-12-31', INTERVAL 1 DAY)) AS d)
"""


def p4_conditional_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P7/P8/P9: the silver-cleaning pattern — null-out measures on a
    status flag, multi-branch categorization, boolean flags, and a 0-5
    quality score (reference flight_data_cleaner.py:15-42,93-124 and
    flight_data_enricher.py:13-31)."""
    orders = read_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    quality = (
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0)
        + F.when(price > 0, 1).otherwise(0)
        + F.when(F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        + F.when(F.col("o_orderdate").isNotNull(), 1).otherwise(0)
        + F.when(F.col("o_orderpriority").isNotNull(), 1).otherwise(0)
    )
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", F.lit(None).cast("double"))
        .otherwise(price)
        .alias("effective_price"),
        F.when(price < 50000, "LOW")
        .when(price < 150000, "MEDIUM")
        .when(price < 300000, "HIGH")
        .otherwise("PREMIUM")
        .alias("price_band"),
        (F.col("o_orderstatus") == "F").alias("is_fulfilled"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_urgent"),
        (quality.cast("double") / F.lit(5.0)).alias("quality_score"),
    )


P4_ORACLE = """
SELECT
  o_orderkey,
  CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS effective_price,
  CASE WHEN o_totalprice < 50000 THEN 'LOW'
       WHEN o_totalprice < 150000 THEN 'MEDIUM'
       WHEN o_totalprice < 300000 THEN 'HIGH'
       ELSE 'PREMIUM' END AS price_band,
  o_orderstatus = 'F' AS is_fulfilled,
  o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_urgent,
  CAST(
    (CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)
    + (CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END)
    + (CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 ELSE 0 END)
    + (CASE WHEN o_orderdate IS NOT NULL THEN 1 ELSE 0 END)
    + (CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END)
  AS DOUBLE) / CAST(5 AS DOUBLE) AS quality_score
FROM orders
"""


def f_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 string functions: trim/upper/concat/lit/lpad/regexp_replace
    (reference flight_data_cleaner.py:127-150, dim_time.py:17-39,
    fact_flights.py:16-32)."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper(F.trim("p_brand")).alias("brand_u"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("part_code"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowel"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
    )


F_STRING_ORACLE = """
SELECT
  p_partkey,
  UPPER(TRIM(p_brand)) AS brand_u,
  p_brand || '#' || p_type AS brand_type,
  LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS part_code,
  REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS name_novowel,
  CAST(LENGTH(p_name) AS INTEGER) AS name_len,
  SUBSTRING(p_name, 1, 5) AS name_prefix
FROM part
"""


def f_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 date/time functions: to_date/date_format/year/quarter/month/
    weekofyear/dayofweek/datediff (reference dim_date.py:18-30,
    fact_flights.py:39, flight_data_enricher.py:63-66)."""
    orders = read_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        d.alias("order_date"),
        F.date_format(d, "yyyyMMdd").alias("date_str"),
        F.year(d).alias("year"),
        F.quarter(d).alias("quarter"),
        F.month(d).alias("month"),
        F.weekofyear(d).alias("week_of_year"),
        F.dayofweek(d).alias("day_of_week"),
        F.datediff(F.lit("2002-01-01").cast("date"), d).alias("days_to_2002"),
    )


F_DATETIME_ORACLE = """
SELECT
  o_orderkey,
  CAST(o_orderdate AS DATE) AS order_date,
  strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS date_str,
  CAST(year(o_orderdate) AS INTEGER) AS year,
  CAST(quarter(o_orderdate) AS INTEGER) AS quarter,
  CAST(month(o_orderdate) AS INTEGER) AS month,
  CAST(weekofyear(o_orderdate) AS INTEGER) AS week_of_year,
  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS day_of_week,
  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002
FROM orders
"""


def f_json_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-json: JSON path extraction + schema-ful parsing over the events
    ``props`` column — get_json_object (stringly path) and from_json
    (typed struct), aggregated per event type. Beyond the reference's
    scalar surface (it has no JSON), but table stakes for an events feed."""
    events = read_table(spark, sf_dir, "events")
    k_path = F.get_json_object("props", "$.k").cast("int")
    k_typed = F.from_json("props", "k int").getField("k")
    parsed = events.select(
        "event_type", k_path.alias("k_path"), k_typed.alias("k_typed")
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("k_path").alias("sum_k"),
        F.min("k_typed").alias("min_k"),
        F.max("k_typed").alias("max_k"),
        conditional_count(F.col("k_path") != F.col("k_typed"), "n_parse_disagreements"),
    )


F_JSON_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
       CAST(0 AS BIGINT) AS n_parse_disagreements
FROM events GROUP BY event_type
"""


def f_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-array: array-column surface over embeddings — size, indexing,
    min/max, slice, and a higher-order fold (sequential, so the float sum
    is order-deterministic and cross-engine comparable)."""
    emb = read_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at(v, 1).alias("first_val"),
        F.array_max(v).alias("max_val"),
        F.array_min(v).alias("min_val"),
        F.aggregate(
            F.slice(v, 1, 8), F.lit(0.0), lambda acc, x: acc + x
        ).alias("head8_sum"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
    )


F_ARRAY_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         len(embedding) AS dim
  FROM embeddings
)
SELECT vec_id,
       CAST(dim AS INTEGER) AS dim,
       v[1] AS first_val,
       list_max(v) AS max_val,
       list_min(v) AS min_val,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), v[1:8]), (acc, x) -> acc + x) AS head8_sum,
       CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_positive
FROM e
"""


def s1_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 (extension): deterministic hash sampling — Bernoulli sampling by
    md5(key) threshold, with PER-STRATUM rates (stratified sampleBy
    semantics). Unlike df.sample(), the sample is reproducible across
    engines, runs, and partitionings — the property a training-data
    pipeline needs for auditable subsets. Pure narrow filter: no shuffle,
    pushes down column pruning, scales linearly."""
    orders = read_table(spark, sf_dir, "orders")
    h = F.substring(
        F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 2
    )
    threshold = (
        F.when(F.col("o_orderstatus") == "F", "33")
        .when(F.col("o_orderstatus") == "O", "19")
        .otherwise("0a")
    )
    return orders.where(h < threshold).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


S1_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <
      CASE o_orderstatus WHEN 'F' THEN '33' WHEN 'O' THEN '19' ELSE '0a' END
"""


def f_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-map (extension): map-type construction and access —
    create_map / map_from_arrays / map_concat / element_at / map_keys /
    map_filter. The map round-trips entirely JVM-side (whole-stage
    codegen); output is extracted to scalars because map column ordering
    is engine-defined and not hash-comparable. Oracle states the expected
    values relationally."""
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("rk"), "r_name"
    )
    df = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["rk"]
    )
    m = F.map_concat(
        F.create_map(
            F.lit("nation"), F.col("n_name"), F.lit("region"), F.col("r_name")
        ),
        F.map_from_arrays(
            F.array(F.lit("nk")),
            F.array(F.col("n_nationkey").cast("string")),
        ),
    )
    return df.select(
        "n_nationkey",
        F.element_at(m, "nation").alias("nation_from_map"),
        F.element_at(m, "region").alias("region_from_map"),
        F.size(m).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.size(F.map_filter(m, lambda k, v: k != F.lit("nk"))).alias(
            "n_keys_filtered"
        ),
    )


F_MAP_ORACLE = """
SELECT n_nationkey,
       n_name AS nation_from_map,
       r_name AS region_from_map,
       CAST(3 AS INTEGER) AS n_keys,
       'nation,nk,region' AS keys_sorted,
       CAST(2 AS INTEGER) AS n_keys_filtered
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


def p5_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 (extension): DataFrameNaFunctions — na.fill (default values) and
    na.replace (value mapping), with nulls injected by a CASE guard
    (negative balances -> NULL, mirroring the reference's null-out-fields
    cleaning, flight_data_cleaner.py:15-31). Pure narrow projection: no
    shuffle, fully codegen'd."""
    customer = read_table(spark, sf_dir, "customer")
    df = customer.select(
        "c_custkey",
        F.when(F.col("c_acctbal") >= 0, F.col("c_acctbal")).alias("bal"),
        "c_mktsegment",
    ).withColumn("was_null", F.isnull("bal").cast("int"))
    return (
        df.na.fill({"bal": 0.0})
        .na.replace(["BUILDING"], ["B"], "c_mktsegment")
        .withColumnRenamed("c_mktsegment", "segment")
    )


P5_ORACLE = """
SELECT c_custkey,
       COALESCE(CASE WHEN c_acctbal >= 0 THEN c_acctbal END, 0.0) AS bal,
       CASE WHEN c_mktsegment = 'BUILDING' THEN 'B' ELSE c_mktsegment END AS segment,
       CAST(CASE WHEN c_acctbal >= 0 THEN 0 ELSE 1 END AS INTEGER) AS was_null
FROM customer
"""


def f_explode_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-explode (extension): split + posexplode (lateral view with
    position) — tokenize part names into (part, position, word) rows.
    Generators multiply row count JVM-side (Generate node); at scale,
    project to the minimal column set BEFORE exploding so the blow-up
    carries no dead columns."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey", F.posexplode(F.split("p_name", " ")).alias("pos", "word")
    )


F_EXPLODE_ORACLE = """
SELECT t.p_partkey, l.i - 1 AS pos, t.arr[l.i] AS word
FROM (SELECT p_partkey, string_split(p_name, ' ') AS arr FROM part) t,
LATERAL (SELECT unnest(range(1, len(t.arr) + 1)) AS i) l
"""


def p6_grouped_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 (extension): grouped-map applyInPandas — per-returnflag min-max
    scaling of quantities. Arrow ships each group to Python as one pandas
    frame (batch-cost, not row-cost); the DuckDB oracle is the equivalent
    window formulation, proving the grouped-map path computes exactly
    what the declarative plan would."""
    from us_dot_flights_lakehouse_spark.operators.grouped import (
        grouped_minmax_scale,
    )

    lineitem = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    return grouped_minmax_scale(
        lineitem, ["l_returnflag"], "l_quantity", out_col="qty_scaled"
    )


P6_ORACLE = """
SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
       (l_quantity - MIN(l_quantity) OVER (PARTITION BY l_returnflag))
       / NULLIF(MAX(l_quantity) OVER (PARTITION BY l_returnflag)
                - MIN(l_quantity) OVER (PARTITION BY l_returnflag), 0)
         AS qty_scaled
FROM lineitem
"""


def f_udtf_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-udtf (extension): Python UDTF in a LATERAL join — per-document
    positional character 3-grams for short documents. The oracle is the
    relational substring expansion, proving the UDTF emits exactly the
    rows the declarative form would. Python row-at-a-time is the slow
    path — bounded here to short docs; see make_shingle_udtf."""
    from us_dot_flights_lakehouse_spark.operators.grouped import (
        make_shingle_udtf,
    )

    spark.udtf.register("shingler", make_shingle_udtf())
    read_corpus(spark, sf_dir, "documents").where(F.col("n_chars") <= 150).select(
        "doc_id", "text"
    ).createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.shingle
        FROM udtf_docs d, LATERAL shingler(d.text) s
        """
    )


F_UDTF_ORACLE = """
SELECT d.doc_id, l.i - 1 AS pos, substr(d.text, l.i, 3) AS shingle
FROM (SELECT doc_id, text FROM documents WHERE n_chars <= 150) d,
LATERAL (SELECT unnest(range(1, greatest(len(d.text) - 2, 0) + 1)) AS i) l
"""


def f_variant_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-variant (extension): Spark 4 VARIANT type — parse_json into a
    binary-encoded variant, typed extraction with variant_get. Unlike
    string get_json_object re-parsing per access, a variant column parses
    once and every extraction is a cheap binary probe — the right
    encoding for semi-structured props at 100 TB. Output is extracted to
    scalars (variant itself is not hash-comparable cross-engine).

    The missing-key probe ('$.m') hits a key present on event_id ≡ 0
    (mod 3) rows only — so the column carries BOTH real values and
    missing→NULL verdicts; a 100%-NULL column would hash green against
    any engine and verify nothing (the a31/degeneracy-guard lesson)."""
    events = read_table(spark, sf_dir, "events")
    # The '$.m' splice assumes props is a non-empty unpadded JSON object;
    # generated data always satisfies that, but a regeneration must not be
    # able to turn the latent assumption into an ANSI crash (ADVICE r7).
    # try_parse_json yields NULL on a malformed splice instead of throwing;
    # the oracle mirrors it with a json_valid() guard. The splice is ALSO
    # gated on props not already containing an 'm' key (ADVICE r8):
    # Spark's variant parser rejects duplicate keys (VARIANT_DUPLICATE_KEY
    # → NULL under try_parse_json) while DuckDB's json_valid accepts them,
    # so an ungated splice over regenerated props with an 'm' key would
    # silently diverge. The gate is mirrored in the oracle (NOT LIKE).
    # AND gated on a '{"' prefix (round 10, found by the unhappy-path
    # tests): splicing an EMPTY object yields '{"m": 5,}', whose trailing
    # comma DuckDB's json_valid ACCEPTS (yyjson leniency → extracts 5)
    # while Spark's try_parse_json rejects it (NULL) — the only splice
    # input the json_valid guard does not keep aligned. Requiring a
    # non-empty unpadded object keeps every reachable splice either
    # valid JSON on both engines or invalid on both.
    spliceable = (
        (F.col("event_id") % 3 == 0)
        & ~F.col("props").contains('"m"')
        & F.col("props").startswith('{"')
    )
    j = F.when(
        spliceable,
        F.concat(F.lit('{"m": 5,'), F.expr("substring(props, 2)")),
    ).otherwise(F.col("props"))
    return events.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k_val"),
        F.expr("variant_get(parse_json(props), '$.k', 'string')").alias("k_str"),
        F.try_variant_get(F.try_parse_json(j), "$.m", "bigint").alias(
            "k_missing"
        ),
    )


F_VARIANT_ORACLE = """
WITH spliced AS (
  SELECT event_id, props,
         CASE WHEN event_id % 3 = 0 AND props NOT LIKE '%"m"%'
                   AND props LIKE '{"%'
              THEN '{"m": 5,' || substring(props, 2)
              ELSE props END AS j
  FROM events
)
SELECT event_id,
       CAST(props ->> 'k' AS BIGINT) AS k_val,
       props ->> 'k' AS k_str,
       CASE WHEN json_valid(j) THEN CAST(j ->> 'm' AS BIGINT) END AS k_missing
FROM spliced
"""


def o4_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 (extension): recursive CTE (Spark 4 WITH RECURSIVE) — generate a
    dense month spine over two years and left-join order counts, so
    empty months surface as zeros (the calendar-densification pattern;
    sequence+explode does the same non-recursively, o3_date_dim). The
    recursion is driver-bounded (24 iterations over one-row frames), so
    it adds plan depth, not data volume."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("o4_orders")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
          WHERE m < DATE '1996-12-01'
        )
        SELECT m AS month_start,
               COALESCE(cnt, CAST(0 AS BIGINT)) AS n_orders
        FROM months
        LEFT JOIN (
          SELECT to_date(date_trunc('MONTH', o_orderdate)) AS om,
                 COUNT(*) AS cnt
          FROM o4_orders GROUP BY 1
        ) agg ON months.m = agg.om
        """
    )


O4_ORACLE = """
WITH RECURSIVE months(m) AS (
  SELECT DATE '1995-01-01'
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
  WHERE m < DATE '1996-12-01'
)
SELECT m AS month_start, COALESCE(cnt, CAST(0 AS BIGINT)) AS n_orders
FROM months
LEFT JOIN (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS om, COUNT(*) AS cnt
  FROM orders GROUP BY 1
) agg ON months.m = agg.om
"""


def f_datetime_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-datetime-2 (extension): calendar arithmetic — last_day,
    add_months (month-end clamping), datediff, unix epoch seconds,
    make_date round-trip. All integer/date-exact cross-engine."""
    orders = read_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.last_day(d).alias("month_end"),
        F.add_months(d, 1).alias("next_month"),
        F.datediff(F.lit("1998-01-01").cast("date"), d).alias("days_to_98"),
        F.unix_timestamp("o_orderdate").cast("bigint").alias("epoch_s"),
        F.make_date(F.year(d), F.month(d), F.lit(1)).alias("month_start"),
    )


F_DATETIME2_ORACLE = """
SELECT o_orderkey,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS next_month,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS days_to_98,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
       make_date(year(o_orderdate), month(o_orderdate), 1) AS month_start
FROM orders
"""


def f_array_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-array-2 (extension): array set algebra — intersect/union/except/
    distinct/flatten over per-row constructed arrays. Set-op output order
    is engine-defined, so every result is sorted then joined to a
    canonical string before comparison (the same discipline as
    collect_set in a16)."""
    nation = read_table(spark, sf_dir, "nation")
    a = F.array(F.col("n_nationkey"), F.col("n_regionkey"), F.lit(7))
    b = F.array(F.col("n_regionkey"), F.lit(7), F.lit(99))

    def s(col):
        return F.array_join(F.array_sort(col), ",")

    return nation.select(
        "n_nationkey",
        s(F.array_intersect(a, b)).alias("inter"),
        s(F.array_union(a, b)).alias("uni"),
        s(F.array_except(a, b)).alias("exc"),
        s(F.array_distinct(F.concat(a, b))).alias("dist"),
        s(F.flatten(F.array(a, b))).alias("flat"),
    )


F_ARRAY2_ORACLE = """
WITH t AS (
  SELECT n_nationkey,
         [n_nationkey, n_regionkey, 7] AS a,
         [n_regionkey, 7, 99] AS b
  FROM nation
)
SELECT n_nationkey,
       array_to_string(list_sort(list_intersect(a, b)), ',') AS inter,
       array_to_string(list_sort(list_distinct(a || b)), ',') AS uni,
       COALESCE(array_to_string(list_sort(list_filter(list_distinct(a), x -> NOT list_contains(b, x))), ','), '') AS exc,
       array_to_string(list_sort(list_distinct(a || b)), ',') AS dist,
       array_to_string(list_sort(a || b), ',') AS flat
FROM t
"""


def p7_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 (extension): error-safe expressions — try_cast, try_divide,
    try_to_number: malformed input yields NULL instead of failing the
    job (the row-level analogue of the corrupt-record quarantine in
    ``src_csv_badrecords``).

    The try_cast probe mixes numeric strings (even keys) with the letter
    statuses (odd keys) so the column carries BOTH parsed values and
    failure→NULLs — o_orderstatus alone is always {P,O,F}, and a
    100%-NULL column verifies nothing (degeneracy-guard lesson)."""
    orders = read_table(spark, sf_dir, "orders")
    mixed = F.when(
        F.col("o_orderkey") % 2 == 0, (F.col("o_orderkey") % 100).cast("string")
    ).otherwise(F.col("o_orderstatus"))
    return orders.select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_num"),
        mixed.try_cast("int").alias("status_as_int"),
        F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 3).alias(
            "div_maybe_zero"
        ),
    )


P7_ORACLE = """
SELECT o_orderkey,
       TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio_num,
       TRY_CAST(CASE WHEN o_orderkey % 2 = 0
                     THEN CAST(o_orderkey % 100 AS VARCHAR)
                     ELSE o_orderstatus END AS INTEGER) AS status_as_int,
       o_totalprice / NULLIF(o_custkey % 3, 0) AS div_maybe_zero
FROM orders
"""


def f_string_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-string-2 (extension): regexp capture groups, regexp_count, instr,
    translate, repeat/reverse/left/right — the remainder of the string
    surface beyond f_string_suite. All run JVM-side in codegen."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_type", r"^(\\w+)\\s+(\\w+)", 2).alias("type_mid"),
        F.size(F.regexp_extract_all("p_name", F.lit("[aeiou]+"), 0)).alias(
            "n_vowel_runs"
        ),
        F.instr("p_name", "plate").alias("plate_pos"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.repeat(F.lit("*"), F.col("p_size") % 5).alias("stars"),
        F.reverse("p_brand").alias("brand_rev"),
        F.substring("p_name", 1, 3).alias("name_l3"),
        F.right(F.col("p_name"), F.lit(2)).alias("name_r2"),
    )


F_STRING2_ORACLE = """
SELECT p_partkey,
       regexp_extract(p_type, '^(\\w+)\\s+(\\w+)', 2) AS type_mid,
       CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS INTEGER) AS n_vowel_runs,
       CAST(instr(p_name, 'plate') AS INTEGER) AS plate_pos,
       translate(p_brand, '#', '-') AS brand_dashed,
       repeat('*', CAST(p_size % 5 AS INTEGER)) AS stars,
       reverse(p_brand) AS brand_rev,
       substr(p_name, 1, 3) AS name_l3,
       right(p_name, 2) AS name_r2
FROM part
"""


def f_xml_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-xml (extension): XML ingestion — from_xml (Spark 4 built-in,
    absorbed from spark-xml) parsing per-row documents into typed
    structs, plus xpath extraction. The oracle states the expected
    values relationally (DuckDB has no XML), proving the parse
    round-trips the source columns exactly."""
    nation = read_table(spark, sf_dir, "nation")
    xml = F.concat(
        F.lit("<rec><name>"),
        F.col("n_name"),
        F.lit("</name><rk>"),
        F.col("n_regionkey").cast("string"),
        F.lit("</rk></rec>"),
    )
    parsed = F.from_xml(xml, "name string, rk int")
    return nation.select(
        "n_nationkey",
        parsed["name"].alias("xml_name"),
        parsed["rk"].alias("xml_rk"),
        F.xpath_string(xml, F.lit("/rec/name")).alias("xpath_name"),
    )


F_XML_ORACLE = """
SELECT n_nationkey, n_name AS xml_name,
       CAST(n_regionkey AS INTEGER) AS xml_rk,
       n_name AS xpath_name
FROM nation
"""


WINSOR_LO = 0.05


WINSOR_HI = 0.95


def p8_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 (extension): percentile winsorization — clip l_extendedprice
    to its per-return-flag [p{int(WINSOR_LO * 100)}, p{int(WINSOR_HI * 100)}]
    range: the outlier treatment feature pipelines apply before scaling.
    Boundaries come from ONE exact interpolated-percentile aggregate
    (a11 path, bit-stable) broadcast back over the scan; clipping is
    least/greatest — no second sort, no window.

    r13 note: the driver-histogram rank-selection path (the a20/a23
    rewrite) was A/B-tested here and REJECTED — 0.94 → 1.42 s isolated:
    the bounds aggregate is mild and the clip pass dominates; collecting
    a near-row-cardinality histogram costs more than the buffer saved.

    Scale: one 3-row aggregate + broadcast join + scan-local clamp."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    # r13 (guide §2.5): the percentile buffers built on the single scan
    # task; repartition just the two needed columns for the bounds
    # branch (the clip scan branch stays scan-local). A/B 1.30 -> 1.05 s.
    # r14 (ADVICE): gated on scan parallelism — no exchange at scale.
    bounds = spread_scan(
        lineitem.select("l_returnflag", "l_extendedprice"),
        F.col("l_extendedprice"),
        table_path=f"{sf_dir}/lineitem.parquet",
    ).groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit([WINSOR_LO, WINSOR_HI])).alias("bd")
    ).select(
        "l_returnflag",
        F.col("bd")[0].alias("lo"),
        F.col("bd")[1].alias("hi"),
    )
    joined = lineitem.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    ).join(F.broadcast(bounds), "l_returnflag")
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        clipped.alias("price_winsorized"),
        (clipped != F.col("l_extendedprice")).alias("was_clipped"),
    )


P8_ORACLE = f"""
WITH b AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, {WINSOR_LO}) AS lo,
         quantile_cont(l_extendedprice, {WINSOR_HI}) AS hi
  FROM lineitem GROUP BY 1
)
SELECT l_orderkey, l_linenumber, l.l_returnflag, l_extendedprice,
       least(greatest(l_extendedprice, lo), hi) AS price_winsorized,
       least(greatest(l_extendedprice, lo), hi) != l_extendedprice
         AS was_clipped
FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
"""


#: Benford expected first-digit frequencies log10(1 + 1/d), precomputed so
#: neither engine evaluates a logarithm (not correctly rounded cross-engine)
BENFORD_EXPECTED = {
    1: 0.30102999566398120,
    2: 0.17609125905568124,
    3: 0.12493873660829993,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def o5_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 (extension): Benford's-law first-digit audit of o_totalprice —
    the fraud/synthetic-data detector: observed first-digit frequency vs
    the Benford expectation, with the per-digit chi-square contribution
    (n·(obs−exp)²/exp). The expected frequencies are precomputed
    literals (no engine evaluates log10), observed counts are exact, and
    the deviation arithmetic is plain double ops — bit-stable.

    Scale: one scan + one 9-row aggregate."""
    orders = read_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.regexp_replace(F.col("o_totalprice").cast("string"), r"[^1-9]", ""),
        1,
        1,
    ).cast("int")
    counts = orders.select(digit.alias("d")).groupBy("d").agg(
        F.count("*").cast("bigint").alias("n_orders")
    )
    total = counts.agg(F.sum("n_orders").cast("bigint").alias("n_total"))
    expected = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in BENFORD_EXPECTED]),
            F.array(*[F.lit(v) for v in BENFORD_EXPECTED.values()]),
        ),
        F.col("d"),
    )
    joined = counts.crossJoin(F.broadcast(total))
    obs = F.col("n_orders").cast("double") / F.col("n_total").cast("double")
    return joined.select(
        F.col("d").alias("first_digit"),
        "n_orders",
        obs.alias("observed_freq"),
        expected.alias("expected_freq"),
        (
            F.col("n_total").cast("double")
            * (obs - expected)
            * (obs - expected)
            / expected
        ).alias("chi2_term"),
    )


def _benford_oracle() -> str:
    # string-parse the literals: a bare numeric literal types as DECIMAL
    # in DuckDB and double-rounds on the way to DOUBLE
    vals = ",\n".join(
        f"({d}, CAST('{v!r}' AS DOUBLE))" for d, v in BENFORD_EXPECTED.items()
    )
    return f"""
WITH exp_freq AS (
  SELECT d, e FROM (VALUES {vals}) t(d, e)
),
counts AS (
  SELECT CAST(substr(regexp_replace(CAST(o_totalprice AS VARCHAR),
                                    '[^1-9]', '', 'g'), 1, 1) AS INTEGER) AS d,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
), tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_total FROM counts)
SELECT c.d AS first_digit, c.n_orders,
       CAST(c.n_orders AS DOUBLE) / CAST(n_total AS DOUBLE) AS observed_freq,
       e.e AS expected_freq,
       CAST(n_total AS DOUBLE)
         * (CAST(c.n_orders AS DOUBLE) / CAST(n_total AS DOUBLE) - e.e)
         * (CAST(c.n_orders AS DOUBLE) / CAST(n_total AS DOUBLE) - e.e)
         / e.e AS chi2_term
FROM counts c JOIN exp_freq e ON c.d = e.d, tot
"""


def p9_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 (extension): z-score standardization — scale l_extendedprice
    within its return-flag group to zero mean / unit variance, the
    feature-scaling step before any distance-based model. Moments come
    from exact DECIMAL sums; the decimal→double handoff goes through the
    digit string (the a21 lesson: DuckDB double-rounds large direct
    casts); mean, var and the z expression mirror verbatim — bit-stable.

    Scale: one 3-row moments aggregate broadcast back over the scan."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    x_dec = F.col("l_extendedprice").cast("decimal(18,2)")
    # r13 (guide §2.5): the moments branch's decimal partials ran on the
    # single scan task; repartition just the two needed columns (the
    # z-score scan branch stays scan-local). A/B 1.28 -> 1.06 s.
    # r14 (ADVICE): gated on scan parallelism — no exchange at scale.
    moments = spread_scan(
        lineitem.select("l_returnflag", "l_extendedprice"),
        F.col("l_extendedprice"),
        table_path=f"{sf_dir}/lineitem.parquet",
    ).groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x_dec.cast("decimal(38,4)")).cast("decimal(38,4)").alias("s"),
        F.sum(x_dec * x_dec).cast("decimal(38,4)").alias("ss"),
    )

    def sd(name):
        return F.col(name).cast("string").cast("double")

    n = F.col("n").cast("double")
    mean = sd("s") / n
    var = sd("ss") / n - mean * mean
    joined = lineitem.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    ).join(F.broadcast(moments), "l_returnflag")
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        mean.alias("group_mean"),
        ((F.col("l_extendedprice") - mean) / F.sqrt(var)).alias("z_score"),
    )


P9_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS s,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss
  FROM lineitem GROUP BY 1
)
SELECT l_orderkey, l_linenumber, l.l_returnflag, l_extendedprice,
       CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS group_mean,
       (l_extendedprice
        - CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt(CAST(CAST(ss AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))
         AS z_score
FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
"""


def o7_id_continuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 (extension): ingest-id continuity audit — per user, whether the
    event_id sequence it received is gap-free (count == span), how many
    ids are missing, and the longest contiguous run (gaps-and-islands
    via the id − row_number trick): the completeness check a pipeline
    runs against an at-least-once source before trusting downstream
    aggregates.

    Scale: one user-key window + one user aggregate — single shuffle."""
    events = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    island = F.col("event_id") - F.row_number().over(w)
    runs = events.select("user_id", "event_id", island.alias("island"))
    run_lens = runs.groupBy("user_id", "island").agg(
        F.count("*").cast("bigint").alias("run_len")
    )
    return run_lens.groupBy("user_id").agg(
        F.sum("run_len").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_runs"),
        F.max("run_len").cast("bigint").alias("longest_run"),
    ).select(
        "user_id",
        "n_events",
        "n_runs",
        "longest_run",
        (F.col("n_runs") == 1).alias("contiguous"),
    )


O7_ORACLE = """
WITH runs AS (
  SELECT user_id,
         event_id - row_number() OVER (PARTITION BY user_id
                                       ORDER BY event_id) AS island
  FROM events
), rl AS (
  SELECT user_id, island, CAST(count(*) AS BIGINT) AS run_len
  FROM runs GROUP BY 1, 2
)
SELECT user_id,
       CAST(sum(run_len) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(max(run_len) AS BIGINT) AS longest_run,
       count(*) = 1 AS contiguous
FROM rl GROUP BY user_id
"""


def ts_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS (extension): Flesch reading-ease scoring — the classic
    readability gate (206.835 − 1.015·words/sentences −
    84.6·syllables/words) with syllables approximated by vowel-group
    counts and sentences by terminal-punctuation runs (both exact
    integer counts; min 1 so the ratios are total). The constants are
    exact-parse decimals on both engines and the formula is 2 divisions
    + 2 multiplications + 2 subtractions of deterministic doubles —
    bit-stable.

    Scale: per-row regexp counts, zero shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    txt = F.lower(F.col("text"))
    words = F.greatest(F.size(F.split(F.trim(txt), r"\s+")), F.lit(1))
    sents = F.greatest(F.regexp_count(txt, F.lit(r"[.!?]+")), F.lit(1))
    sylls = F.greatest(F.regexp_count(txt, F.lit(r"[aeiouy]+")), F.lit(1))
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents.cast("double"))
        - F.lit(84.6) * (sylls.cast("double") / words.cast("double"))
    )
    return docs.select(
        "doc_id",
        words.cast("int").alias("n_words"),
        sents.cast("int").alias("n_sentences"),
        sylls.cast("int").alias("n_syllable_groups"),
        score.alias("flesch_score"),
        (score >= F.lit(30.0)).alias("readable"),
    )


TS_READ_ORACLE = """
WITH c AS (
  SELECT doc_id,
         greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')), 1)
           AS w,
         greatest(len(regexp_extract_all(lower(text), '[.!?]+')), 1) AS s,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS y
  FROM documents
)
SELECT doc_id,
       CAST(w AS INTEGER) AS n_words,
       CAST(s AS INTEGER) AS n_sentences,
       CAST(y AS INTEGER) AS n_syllable_groups,
       CAST('206.835' AS DOUBLE)
         - CAST('1.015' AS DOUBLE) * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
         - CAST('84.6' AS DOUBLE) * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE))
         AS flesch_score,
       (CAST('206.835' AS DOUBLE)
         - CAST('1.015' AS DOUBLE) * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
         - CAST('84.6' AS DOUBLE) * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)))
         >= 30.0 AS readable
FROM c
"""


BADREC_N = 200


def src_csv_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC: malformed-record quarantine — read a CSV containing
    deliberately corrupt rows (row i has a non-numeric value field when
    i % 7 == 3) in PERMISSIVE mode with ``columnNameOfCorruptRecord``,
    and emit per row the parsed value and the quarantine verdict: the
    ingest-hardening pattern (never DROPMALFORMED silently — count and
    route bad rows) the reference's warn-only bronze gate implies. The
    fixture is deterministic, so the oracle states every row's fate in
    closed form — a reader that mis-parses a good row or silently drops
    a bad one hash-fails.

    Scale: CSV scans parallelize per file split; the corrupt-record
    column is per-row metadata, no extra pass."""
    import os
    import tempfile

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = f"{tempfile.gettempdir()}/us_dot_badcsv_{sf_tag}_v1"
    if not os.path.isdir(out):
        tmp = f"{out}.tmp.{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        with open(f"{tmp}/part0.csv", "w") as fh:
            for i in range(BADREC_N):
                v = "x" if i % 7 == 3 else str((i * 13) % 1000)
                fh.write(f"{i},{v}\n")
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):
                raise
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    df = (
        spark.read.schema("id int, v int, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(out)
    )
    return df.select(
        F.col("id").cast("long").alias("id"),
        F.col("v").cast("long").alias("v"),
        F.col("_bad").isNotNull().alias("quarantined"),
    )


SRC_BADREC_ORACLE = f"""
SELECT CAST(i AS BIGINT) AS id,
       CASE WHEN i % 7 = 3 THEN NULL
            ELSE CAST((i * 13) % 1000 AS BIGINT) END AS v,
       i % 7 = 3 AS quarantined
FROM (SELECT unnest(generate_series(0, {BADREC_N - 1})) AS i)
"""


def o9_dense_rank_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9: distributed global dense ids — ``operators/physical.py::
    ordered_dense_ids`` (the range-sort + per-partition-offset
    zipWithIndex pattern that replaces a single-partition
    ``row_number() OVER (ORDER BY …)`` funnel) gets a DIRECT oracle
    surface: 0-based ids over orders in (totalprice, orderkey) total
    order, hash-compared against an independent engine's ROW_NUMBER.
    Previously only verified by its own unit test and transitively via
    ``tp_token_ids``; this pins the global-rank contract per row at two
    SFs every round.

    Scale: one range shuffle at partition-count parallelism + a
    partition-count-bounded offset collect — never a one-task sort."""
    from us_dot_flights_lakehouse_spark.operators.physical import (
        ordered_dense_ids,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    return ordered_dense_ids(
        orders, ["o_totalprice", "o_orderkey"], id_name="dense_id"
    ).select("o_orderkey", "o_totalprice", F.col("dense_id").cast("bigint"))


O9_ORACLE = """
SELECT o_orderkey, o_totalprice,
       CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) - 1
            AS BIGINT) AS dense_id
FROM orders
"""


def f_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-sql-udf (extension): SQL scalar UDF (Spark 4 ``CREATE FUNCTION
    … RETURN <expr>``) — the discounted-price function defined ONCE in
    SQL and reused; unlike Python UDFs, SQL UDFs INLINE into the
    Catalyst plan (full codegen, zero serialization), which is why they
    are the recommended way to share row-level business logic at scale.
    The body works in exact DECIMAL so the grouped sums stay
    order-independent; the oracle inlines the same arithmetic.

    Scale: indistinguishable from writing the expression inline — one
    grouped aggregate over the scan."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DECIMAL(16,4) "
        "RETURN CAST(p AS DECIMAL(12,2)) "
        "* (CAST(1 AS DECIMAL(3,2)) - CAST(d AS DECIMAL(3,2)))"
    )
    lineitem = read_table(spark, sf_dir, "lineitem")
    lineitem.createOrReplaceTempView("f_sql_udf_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(disc_price(l_extendedprice, l_discount)) AS DOUBLE)
                 AS revenue
        FROM f_sql_udf_lineitem
        GROUP BY l_returnflag
        """
    )


F_SQL_UDF_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
            AS DOUBLE) AS revenue
FROM lineitem
GROUP BY l_returnflag
"""


F_PARAM_CAP = 50_000.0


def f_param_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-param (extension): parameterized SQL (Spark 4 named-argument
    binding + DataFrame template references) — the injection-safe way a
    service layer issues user-driven queries: the threshold arrives as a
    bound ``:cap`` parameter and the table as a ``{{df}}`` template ref,
    never string concatenation. Semantics identical to the literal
    query, which is what the oracle asserts.

    Scale: the bound parameter folds to a literal at plan time, so
    pushdown/pruning behave exactly as the inline form."""
    orders = read_table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM {orders}
        WHERE o_totalprice < :cap
        GROUP BY o_orderpriority
        """,
        args={"cap": F_PARAM_CAP},
        orders=orders,
    )


F_PARAM_SQL_ORACLE = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE o_totalprice < {F_PARAM_CAP}
GROUP BY o_orderpriority
"""


def f_udtf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-udtf-2 (extension): Python UDTF over a TABLE argument with
    PARTITION BY (the Spark 4 analytic-UDTF surface, complementing
    f_udtf_shingles' lateral form) — a per-source accumulator that sees
    every row of one source and emits one summary row from
    ``terminate()``. This is the UDTF shape for per-group logic that
    genuinely needs Python state across rows; for THIS logic a groupBy
    is strictly faster (the oracle proves equivalence), which is exactly
    the point the docstring pins.

    Scale: rows stream through Python row-at-a-time (the slow path —
    plan-audit whitelists this query as the capability demo); partition
    parallelism = source cardinality."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="source string, n_docs bigint, total_chars bigint")
    class SourceSummary:
        def __init__(self) -> None:
            self._src = None
            self._n = 0
            self._chars = 0

        def eval(self, row) -> None:
            self._src = row["source"]
            self._n += 1
            self._chars += int(row["n_chars"])

        def terminate(self):
            if self._src is not None:
                yield self._src, self._n, self._chars

    spark.udtf.register("f_source_summary", SourceSummary)
    docs = read_table(spark, sf_dir, "documents")
    docs.select("source", "n_chars").createOrReplaceTempView(
        "f_udtf2_docs"
    )
    return spark.sql(
        "SELECT * FROM f_source_summary(TABLE(f_udtf2_docs) "
        "PARTITION BY source)"
    )


F_UDTF2_ORACLE = """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source
"""


O10_EVERY_K = 25


def o10_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10 (extension): systematic sampling — every {O10_EVERY_K}-th row
    of orders in (o_orderdate, o_orderkey) total order, the classic
    evenly-spaced audit sample that (unlike the hash gate of
    s1_deterministic_sample) guarantees uniform coverage of the sort
    dimension, e.g. one probe per ~{O10_EVERY_K} orders across the whole
    date range. Built on ``operators/physical.py::ordered_dense_ids``
    (range-sort + per-partition offsets), so the global rank NEVER
    funnels through a one-task window; the oracle recomputes the rank
    with ROW_NUMBER, so any off-by-one in the distributed offsets
    hash-fails.

    Scale: one range shuffle + a partition-count-bounded offset collect;
    the modulo filter is scan-local after that."""
    from us_dot_flights_lakehouse_spark.operators.physical import (
        ordered_dense_ids,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    ranked = ordered_dense_ids(
        orders, ["o_orderdate", "o_orderkey"], id_name="rank"
    )
    return ranked.filter(F.col("rank") % O10_EVERY_K == 0).select(
        "o_orderkey", "o_orderdate", F.col("rank").cast("bigint").alias("rank")
    )


O10_ORACLE = f"""
SELECT o_orderkey, o_orderdate, rank FROM (
  SELECT o_orderkey, o_orderdate,
         CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) - 1
              AS BIGINT) AS rank
  FROM orders
) WHERE rank % {O10_EVERY_K} = 0
"""


QUERIES = {
    "o3_date_dim": o3_date_dim,
    "p4_conditional_cleaning": p4_conditional_cleaning,
    "f_string_suite": f_string_suite,
    "f_datetime_suite": f_datetime_suite,
    "f_json_suite": f_json_suite,
    "f_array_suite": f_array_suite,
    "s1_deterministic_sample": s1_deterministic_sample,
    "f_map_suite": f_map_suite,
    "p5_null_handling": p5_null_handling,
    "f_explode_suite": f_explode_suite,
    "p6_grouped_minmax_scale": p6_grouped_minmax_scale,
    "f_udtf_shingles": f_udtf_shingles,
    "f_variant_suite": f_variant_suite,
    "o4_recursive_month_spine": o4_recursive_month_spine,
    "f_datetime_suite2": f_datetime_suite2,
    "f_array_suite2": f_array_suite2,
    "p7_try_functions": p7_try_functions,
    "f_string_suite2": f_string_suite2,
    "f_xml_suite": f_xml_suite,
    "p8_winsorize": p8_winsorize,
    "o5_benford_audit": o5_benford_audit,
    "p9_standardize": p9_standardize,
    "o7_id_continuity": o7_id_continuity,
    "ts_readability": ts_readability,
    "src_csv_badrecords": src_csv_badrecords,
    "o9_dense_rank_ids": o9_dense_rank_ids,
    "f_sql_udf": f_sql_udf,
    "f_param_sql": f_param_sql,
    "f_udtf_partitioned": f_udtf_partitioned,
    "o10_systematic_sample": o10_systematic_sample,
}

ORACLES = {
    "o3_date_dim": O3_ORACLE,
    "p4_conditional_cleaning": P4_ORACLE,
    "f_string_suite": F_STRING_ORACLE,
    "f_datetime_suite": F_DATETIME_ORACLE,
    "f_json_suite": F_JSON_ORACLE,
    "f_array_suite": F_ARRAY_ORACLE,
    "s1_deterministic_sample": S1_ORACLE,
    "f_map_suite": F_MAP_ORACLE,
    "p5_null_handling": P5_ORACLE,
    "f_explode_suite": F_EXPLODE_ORACLE,
    "p6_grouped_minmax_scale": P6_ORACLE,
    "f_udtf_shingles": F_UDTF_ORACLE,
    "f_variant_suite": F_VARIANT_ORACLE,
    "o4_recursive_month_spine": O4_ORACLE,
    "f_datetime_suite2": F_DATETIME2_ORACLE,
    "f_array_suite2": F_ARRAY2_ORACLE,
    "p7_try_functions": P7_ORACLE,
    "f_string_suite2": F_STRING2_ORACLE,
    "f_xml_suite": F_XML_ORACLE,
    "p8_winsorize": P8_ORACLE,
    "o5_benford_audit": _benford_oracle,
    "p9_standardize": P9_ORACLE,
    "o7_id_continuity": O7_ORACLE,
    "ts_readability": TS_READ_ORACLE,
    "src_csv_badrecords": SRC_BADREC_ORACLE,
    "o9_dense_rank_ids": O9_ORACLE,
    "f_sql_udf": F_SQL_UDF_ORACLE,
    "f_param_sql": F_PARAM_SQL_ORACLE,
    "f_udtf_partitioned": F_UDTF2_ORACLE,
    "o10_systematic_sample": O10_ORACLE,
}
