"""Data-quality audits (q_*) and physical-layout ops (x*).

The module owns its catalog entries (``QUERIES``/``ORACLES`` at the end).
See the package ``__init__`` for the cross-engine determinism contract.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from us_dot_flights_lakehouse_spark.sources.readers import read_table


ZORDER_BITS = 10  # coordinates folded into 1024 cells per dimension


def x7_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7: z-order (Morton-curve) layout statistics — the lakehouse
    multi-dimensional clustering move (Delta OPTIMIZE ZORDER BY; the
    reference's Delta tables get this from OPTIMIZE). Orders fold onto a
    1024×1024 grid over (o_custkey, o_orderkey); each row's z-value
    interleaves the two coordinates' bits (operators/zorder.py —
    unrolled JVM bit arithmetic, no lambdas), and the top 5 z-bits
    define 32 curve segments = the files ``write_zordered`` would cut.
    Per segment: row count and BOTH dimensions' min/max + span — the
    min/max tightness on EVERY participating column is exactly the
    data-skipping property a 1-column sort cannot give. All-integer:
    trivially bit-stable against the oracle's replica."""
    from us_dot_flights_lakehouse_spark.operators.zorder import z_interleave

    orders = read_table(spark, sf_dir, "orders")
    pts = orders.select(
        (F.col("o_custkey") % 1024).alias("x"),
        (F.col("o_orderkey") % 1024).alias("y"),
    )
    z = z_interleave(F.col("x"), F.col("y"), bits=ZORDER_BITS)
    seg = pts.withColumn(
        "segment", F.shiftright(z, 2 * ZORDER_BITS - 5).cast("int")
    )
    return seg.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("x").cast("bigint").alias("x_min"),
        F.max("x").cast("bigint").alias("x_max"),
        F.min("y").cast("bigint").alias("y_min"),
        F.max("y").cast("bigint").alias("y_max"),
        (F.max("x") - F.min("x")).cast("bigint").alias("x_span"),
        (F.max("y") - F.min("y")).cast("bigint").alias("y_span"),
    )


def _zorder_oracle() -> str:
    from us_dot_flights_lakehouse_spark.operators.zorder import z_interleave_sql

    zexpr = z_interleave_sql("o_custkey % 1024", "o_orderkey % 1024", ZORDER_BITS)
    return f"""
WITH pts AS (
  SELECT o_custkey % 1024 AS x, o_orderkey % 1024 AS y,
         CAST({zexpr} >> {2 * ZORDER_BITS - 5} AS INTEGER) AS segment
  FROM orders
)
SELECT segment,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
       CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max,
       CAST(max(x) - min(x) AS BIGINT) AS x_span,
       CAST(max(y) - min(y) AS BIGINT) AS y_span
FROM pts GROUP BY segment
"""


RECON_TOL = 0.01


def q_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q: cross-table value reconciliation — rebuild each order's total
    from its line items (Σ extprice·(1−disc)·(1+tax), the TPC-H
    invariant) and reconcile against o_totalprice, rolled up per order
    status: mismatch counts, worst absolute difference, and the
    value-ordered total drift. The "do the fact and the header agree"
    audit every finance-grade pipeline runs; on this synthetic data the
    totals deliberately DON'T reconcile, which is exactly what the
    audit reports. Per-order line folds run in line-number order and
    the per-status drift fold in value order — bit-stable.

    Scale: one order-key aggregate (line→order), one broadcast-size
    status rollup; MAX/COUNT are order-free."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    term = (
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
    )
    # r13 (guide §2.5): key-hash repartition of only the five needed
    # columns moves the collect_list partials + ordered folds off the
    # single scan task. A/B 1.42 -> 0.80 s at sf0.1; per-order folds are
    # array_sort-ed so partitioning cannot change them.
    lineitem = lineitem.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"
    ).repartition(spark.sparkContext.defaultParallelism, F.col("l_orderkey"))
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("l_linenumber").alias("i"), term.alias("t")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["t"],
        ).alias("rebuilt")
    )
    j = orders.join(per_order, orders.o_orderkey == per_order.l_orderkey)
    diff = F.col("o_totalprice") - F.col("rebuilt")
    per_status = j.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum((F.abs(diff) > RECON_TOL).cast("long")).cast("bigint").alias("n_mismatch"),
        F.max(F.abs(diff)).alias("max_abs_diff"),
        F.aggregate(
            F.array_sort(F.collect_list(diff)), F.lit(0.0), lambda a, x: a + x
        ).alias("total_drift"),
    )
    return per_status


Q_RECON_ORACLE = f"""
WITH per_order AS (
  -- l_linenumber is NOT unique per order in this dataset: tie-break by
  -- the term value, mirroring the engine's (linenumber, term) struct sort
  SELECT l_orderkey,
         list_sum(list(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                       ORDER BY l_linenumber,
                                l_extendedprice * (1.0 - l_discount)
                                  * (1.0 + l_tax))) AS rebuilt
  FROM lineitem GROUP BY 1
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN abs(o_totalprice - rebuilt) > {RECON_TOL}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
       max(abs(o_totalprice - rebuilt)) AS max_abs_diff,
       list_sum(list(o_totalprice - rebuilt
                     ORDER BY o_totalprice - rebuilt)) AS total_drift
FROM orders JOIN per_order ON o_orderkey = l_orderkey
GROUP BY 1
"""


def q_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q (extension): data-freshness audit per event type — last seen
    timestamp, staleness against the corpus high-water mark, and volume
    in the trailing 24 corpus-hours: the SLA table every ingestion
    on-call reads first when a producer goes quiet. Anchored to
    max(ts) IN the data (not wall-clock) so the audit is deterministic
    and replayable.

    Scale: one scan with a broadcast 1-row high-water-mark join; all
    arithmetic on exact microseconds."""
    events = read_table(spark, sf_dir, "events")
    hwm = events.agg(F.max("ts").alias("corpus_max"))
    return (
        events.crossJoin(F.broadcast(hwm))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.max("ts").alias("last_ts"),
            F.max("corpus_max").alias("corpus_max"),
            F.sum(
                (
                    F.unix_micros("ts")
                    >= F.unix_micros("corpus_max") - F.lit(86_400_000_000)
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("n_last_24h"),
        )
        .select(
            "event_type",
            "n_events",
            "last_ts",
            (
                (
                    F.unix_micros("corpus_max") - F.unix_micros("last_ts")
                ).cast("double")
                / 60_000_000.0
            ).alias("staleness_minutes"),
            "n_last_24h",
        )
    )


Q_FRESHNESS_ORACLE = """
WITH hwm AS (SELECT max(ts) AS corpus_max FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       max(ts) AS last_ts,
       CAST(epoch_us(corpus_max) - epoch_us(max(ts)) AS DOUBLE) / 60000000.0
         AS staleness_minutes,
       CAST(sum(CASE WHEN epoch_us(ts) >= epoch_us(corpus_max) - 86400000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_last_24h
FROM events CROSS JOIN hwm
GROUP BY event_type, corpus_max
"""


def x8_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8: CDC diff between two committed snapshot versions — upgrades
    ``sources/versioned.py::diff_snapshots`` from unit-only to an
    oracle-checked surface. A write-once fixture commits two snapshots
    of an orders projection through the REAL versioned-table protocol
    (staging + ``_COMMITTED`` marker): v0 drops keys ≡0 (mod 11); v1
    drops keys ≡0 (mod 17) and rewrites the status of keys ≡0 (mod 13)
    — so inserted/deleted/updated are all exercised and the oracle
    states every changed key's verdict in closed modular form. Any
    fingerprint, join or time-travel bug hash-fails.

    Scale: the diff is one full-outer join on the table key with only
    (key, fingerprint) pairs moving — the one shuffle a table diff
    fundamentally needs (docstring of diff_snapshots)."""
    import os
    import tempfile

    from us_dot_flights_lakehouse_spark.sources.versioned import (
        diff_snapshots,
        snapshot_versions,
        write_snapshot,
    )

    from us_dot_flights_lakehouse_spark.fixtures import source_fingerprint

    orders = read_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    # path keyed by the SOURCE's stat fingerprint: regenerated testdata
    # gets a fresh fixture instead of silently reading stale snapshots
    # (ADVICE r6)
    fp = source_fingerprint(sf_dir, "orders")
    out = f"{tempfile.gettempdir()}/us_dot_snapdiff_{sf_tag}_{fp}"
    if not os.path.isdir(out):  # deterministic fixture, write-once
        tmp = f"{out}.tmp.{os.getpid()}"
        write_snapshot(base.filter(k % 11 != 0), tmp)
        write_snapshot(
            base.filter(k % 17 != 0).select(
                "o_orderkey",
                F.when(k % 13 == 0, F.lit("XX"))
                .otherwise(F.col("o_orderstatus"))
                .alias("o_orderstatus"),
                "o_totalprice",
            ),
            tmp,
        )
        try:
            os.rename(tmp, out)
        except OSError:
            # another writer won the race; content is deterministic
            pass
    versions = snapshot_versions(spark, out)
    return diff_snapshots(
        spark, out, ["o_orderkey"], v_old=min(versions), v_new=max(versions)
    )


X8_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 11 = 0 THEN 'inserted'
            WHEN o_orderkey % 17 = 0 THEN 'deleted'
            ELSE 'updated' END AS change_type
FROM orders
WHERE (o_orderkey % 11 = 0 AND o_orderkey % 17 != 0)
   OR (o_orderkey % 17 = 0 AND o_orderkey % 11 != 0)
   OR (o_orderkey % 13 = 0 AND o_orderkey % 11 != 0 AND o_orderkey % 17 != 0)
"""


def x9_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9: exchange-free big-big join via BUCKETED storage — lineitem and
    orders published bucketed+sorted on the order key (8 buckets,
    session-cached fixture through the real ``write_bucketed`` path),
    then joined and rolled up to revenue per order status. This is the
    co-location layout a 100 TB lakehouse pays ONE shuffle for at
    publish time so every downstream fact⋈fact join runs with no
    Exchange on either side
    (tests/test_round6_ops.py::test_x9_bucketed_join_plan asserts the
    join subtree is exchange-free); the oracle recomputes the rollup
    from the raw tables, so the bucketed write+read path itself is
    value-hash-verified every round.

    Scale: the only Exchange in the whole plan is the final ≤3-group
    status rollup of map-side partials."""
    import tempfile

    from us_dot_flights_lakehouse_spark.fixtures import (
        bucketed_table_ready,
        source_fingerprint,
    )
    from us_dot_flights_lakehouse_spark.sources.writers import write_bucketed

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    # table names + path keyed by the sources' stat fingerprint, and the
    # data DIRECTORY is checked too — the persistent metastore outlives
    # /tmp, so tableExists alone can point at vanished data (ADVICE r6)
    fp = source_fingerprint(sf_dir, "lineitem", "orders")
    li_t, o_t = f"x9_lineitem_{sf_tag}_{fp}", f"x9_orders_{sf_tag}_{fp}"
    base = f"{tempfile.gettempdir()}/us_dot_x9_{sf_tag}_{fp}"
    if not bucketed_table_ready(spark, li_t, f"{base}/lineitem"):
        write_bucketed(
            read_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            li_t,
            ["l_orderkey"],
            8,
            sort_cols=["l_orderkey"],
            path=f"{base}/lineitem",
        )
    if not bucketed_table_ready(spark, o_t, f"{base}/orders"):
        write_bucketed(
            read_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderstatus"
            ),
            o_t,
            ["o_orderkey"],
            8,
            sort_cols=["o_orderkey"],
            path=f"{base}/orders",
        )
    li, o = spark.table(li_t), spark.table(o_t)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(rev).cast("decimal(38,4)").cast("string").cast("double")
            .alias("revenue"),
        )
    )


X9_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (CAST(1 AS DECIMAL(18,2))
                        - CAST(l_discount AS DECIMAL(18,2))))
                 AS DECIMAL(38,4)) AS VARCHAR)::DOUBLE AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def _key_skew(df: DataFrame, col: str, label: str) -> DataFrame:
    """Distribution stats for one join-key column: key count, row count,
    hottest-key frequency and share, exact p50/p99 of the per-key
    frequency (lower-percentile selection over the tiny distinct-
    frequency table — 2·cum ≥ n / 100·cum ≥ 99·n in exact BIGINTs)."""
    freqs = df.groupBy(F.col(col).alias("k")).agg(
        F.count("*").cast("bigint").alias("f")
    )
    by_f = freqs.groupBy("f").agg(F.count("*").cast("bigint").alias("nk"))
    w = W.orderBy("f").rowsBetween(W.unboundedPreceding, 0)
    cum = by_f.withColumn("cumk", F.sum("nk").over(w).cast("bigint"))
    tot = freqs.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("f").cast("bigint").alias("n_rows"),
        F.max("f").cast("bigint").alias("max_freq"),
    )
    pcts = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.min(F.when(2 * F.col("cumk") >= F.col("n_keys"), F.col("f"))).alias(
                "p50_freq"
            ),
            F.min(
                F.when(100 * F.col("cumk") >= 99 * F.col("n_keys"), F.col("f"))
            ).alias("p99_freq"),
        )
    )
    return (
        tot.crossJoin(F.broadcast(pcts))
        .select(
            F.lit(label).alias("key_column"),
            "n_keys",
            "n_rows",
            "max_freq",
            (F.col("max_freq").cast("double") / F.col("n_rows").cast("double")).alias(
                "top_share"
            ),
            "p50_freq",
            "p99_freq",
            (
                F.col("p99_freq").cast("double") / F.col("p50_freq").cast("double")
            ).alias("skew_ratio"),
        )
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q (extension): join-key SKEW report — for each key column a big
    join shuffles on, the frequency-distribution facts that decide
    whether to salt, enable AQE skew-join, or broadcast: distinct keys,
    hottest key's absolute and relative load, and the exact p50/p99
    per-key frequency with their ratio. At 100 TB this table is read
    BEFORE the join is written — one hot key = one straggler task, and
    the p99/p50 ratio is the straggler predictor (BASELINE.md's skew
    bench measured salting 1.6× faster at ratio ≈ 30).

    Determinism: percentiles are lower-selection over the distinct-
    frequency table in exact integer arithmetic — no interpolation, no
    float rank math.

    Scale: per column one groupBy to per-key counts + a distinct-
    frequency rollup that is histogram-sized; nothing row-scale crosses
    after the first aggregate."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    reports = [
        _key_skew(lineitem, "l_orderkey", "lineitem.l_orderkey"),
        _key_skew(lineitem, "l_partkey", "lineitem.l_partkey"),
        _key_skew(orders, "o_custkey", "orders.o_custkey"),
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def _skew_oracle_one(table: str, col: str, label: str) -> str:
    return f"""
SELECT '{label}' AS key_column,
       CAST((SELECT count(*) FROM freqs_{col}) AS BIGINT) AS n_keys,
       CAST((SELECT sum(f) FROM freqs_{col}) AS BIGINT) AS n_rows,
       CAST((SELECT max(f) FROM freqs_{col}) AS BIGINT) AS max_freq,
       CAST((SELECT max(f) FROM freqs_{col}) AS DOUBLE)
         / CAST((SELECT sum(f) FROM freqs_{col}) AS DOUBLE) AS top_share,
       (SELECT min(f) FROM cum_{col}
        WHERE 2 * cumk >= (SELECT count(*) FROM freqs_{col})) AS p50_freq,
       (SELECT min(f) FROM cum_{col}
        WHERE 100 * cumk >= 99 * (SELECT count(*) FROM freqs_{col}))
         AS p99_freq,
       CAST((SELECT min(f) FROM cum_{col}
             WHERE 100 * cumk >= 99 * (SELECT count(*) FROM freqs_{col}))
            AS DOUBLE)
         / CAST((SELECT min(f) FROM cum_{col}
                 WHERE 2 * cumk >= (SELECT count(*) FROM freqs_{col}))
                AS DOUBLE) AS skew_ratio"""


Q_SKEW_ORACLE = f"""
WITH freqs_l_orderkey AS (
  SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS f
  FROM lineitem GROUP BY 1
), cum_l_orderkey AS (
  SELECT f, CAST(sum(nk) OVER (ORDER BY f
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumk
  FROM (SELECT f, CAST(count(*) AS BIGINT) AS nk
        FROM freqs_l_orderkey GROUP BY 1)
), freqs_l_partkey AS (
  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS f
  FROM lineitem GROUP BY 1
), cum_l_partkey AS (
  SELECT f, CAST(sum(nk) OVER (ORDER BY f
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumk
  FROM (SELECT f, CAST(count(*) AS BIGINT) AS nk
        FROM freqs_l_partkey GROUP BY 1)
), freqs_o_custkey AS (
  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS f
  FROM orders GROUP BY 1
), cum_o_custkey AS (
  SELECT f, CAST(sum(nk) OVER (ORDER BY f
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumk
  FROM (SELECT f, CAST(count(*) AS BIGINT) AS nk
        FROM freqs_o_custkey GROUP BY 1)
)
{_skew_oracle_one('lineitem', 'l_orderkey', 'lineitem.l_orderkey')}
UNION ALL
{_skew_oracle_one('lineitem', 'l_partkey', 'lineitem.l_partkey')}
UNION ALL
{_skew_oracle_one('orders', 'o_custkey', 'orders.o_custkey')}
"""


def x10_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 (extension): DYNAMIC PARTITION PRUNING through the real
    partitioned sink — orders published partitioned by year through
    ``sources/writers.py::write_partitioned`` (the S5 sink, previously
    unit-only as a read-back surface), then joined to a year dimension
    that keeps only even years. The partition filter is NOT known at
    plan time (it arrives from the dim side), so Catalyst inserts a
    dynamicpruning subquery on the fact scan and only the matching
    year=... directories are read — THE mechanism that makes a
    date-partitioned 100 TB fact table affordable to query
    (tests/test_round7_ops.py asserts the dynamicpruning expression in
    the scan's PartitionFilters). The oracle recomputes the rollup from
    the raw table, so the partition layout and pruning are
    value-verified, not just plan-asserted.

    Scale: scan cost ∝ selected partitions; the dim broadcasts; the
    rollup is year-cardinality."""
    import os
    import shutil
    import tempfile

    from us_dot_flights_lakehouse_spark.fixtures import source_fingerprint
    from us_dot_flights_lakehouse_spark.sources.writers import (
        write_partitioned,
    )

    orders = read_table(spark, sf_dir, "orders")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    fp = source_fingerprint(sf_dir, "orders")
    out = f"{tempfile.gettempdir()}/us_dot_x10_{sf_tag}_{fp}"
    if not os.path.isdir(out):  # write-once fixture, fingerprint-keyed
        tmp = f"{out}.tmp.{os.getpid()}"
        write_partitioned(
            orders.select(
                "o_orderkey",
                "o_totalprice",
                F.year("o_orderdate").alias("o_year"),
            ),
            tmp,
            partition_by=["o_year"],
        )
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):
                raise
            shutil.rmtree(tmp, ignore_errors=True)
    fact = spark.read.parquet(out)
    years = (
        spark.range(1990, 2010)
        .filter(F.col("id") % 2 == 0)
        .select(F.col("id").cast("int").alias("o_year"))
    )
    return (
        fact.join(years, "o_year")
        .groupBy("o_year")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


X10_ORACLE = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE year(o_orderdate) % 2 = 0
GROUP BY 1
"""


QUERIES = {
    "x7_zorder_layout": x7_zorder_layout,
    "q_order_reconciliation": q_order_reconciliation,
    "q_freshness_audit": q_freshness_audit,
    "x8_snapshot_diff": x8_snapshot_diff,
    "x9_bucketed_join": x9_bucketed_join,
    "q_skew_report": q_skew_report,
    "x10_partition_pruned_scan": x10_partition_pruned_scan,
}

ORACLES = {
    "x7_zorder_layout": _zorder_oracle,
    "q_order_reconciliation": Q_RECON_ORACLE,
    "q_freshness_audit": Q_FRESHNESS_ORACLE,
    "x8_snapshot_diff": X8_ORACLE,
    "x9_bucketed_join": X9_ORACLE,
    "q_skew_report": Q_SKEW_ORACLE,
    "x10_partition_pruned_scan": X10_ORACLE,
}
