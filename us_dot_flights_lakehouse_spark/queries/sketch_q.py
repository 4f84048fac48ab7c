"""Mergeable-sketch queries: KLL/MG/KMV families, sketch marts, advisors.

The module owns its catalog entries (``QUERIES``/``ORACLES`` at the end).
See the package ``__init__`` for the cross-engine determinism contract.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from us_dot_flights_lakehouse_spark.operators.aggregates import dec_sum
from us_dot_flights_lakehouse_spark.operators.quantiles import (
    collect_value_histogram,
    histogram_groups,
    percentiles_from_counts,
)
from us_dot_flights_lakehouse_spark.sources.readers import read_table, spread_scan


def a19_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19: MERGEABLE sketch rollup (DataSketches HLL via Spark 4's
    hll_sketch_agg / hll_union_agg) — per-month customer sketches union
    into a corpus-wide distinct estimate without re-touching raw rows.
    This is the 100 TB pattern a12's plain approx_count_distinct can't
    do: persist one ~KB sketch blob per partition next to the data, and
    any rollup window (month, quarter, all-time) is a sketch union, not
    a rescan; a new partition's arrival costs one partition scan.

    Output contract mirrors a12: exact companions (COUNT DISTINCT) are
    the oracle-checked values, in-query booleans assert the sketch
    estimates landed within tolerance (HLL lgConfigK=12 → rsd ~1.6%,
    3-sigma ~5%), so estimator drift fails the value hash. The 'ALL' row
    is estimated from the UNION of the monthly sketches — merge error is
    checked against the true global distinct."""
    orders = read_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM")
    monthly = orders.groupBy(month.alias("order_month")).agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count_distinct("o_custkey").alias("n_customers"),
    )

    def _ok(est, exact):
        return (
            F.abs(est.cast("double") - exact.cast("double"))
            <= F.lit(0.05) * exact.cast("double")
        )

    per_month = monthly.select(
        "order_month",
        "n_customers",
        _ok(F.hll_sketch_estimate("sk"), F.col("n_customers")).alias("sketch_ok"),
    )
    exact_all = orders.agg(F.count_distinct("o_custkey").alias("n_customers"))
    global_row = (
        monthly.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
        )
        .crossJoin(exact_all)
        .select(
            F.lit("ALL").alias("order_month"),
            "n_customers",
            _ok(F.col("est"), F.col("n_customers")).alias("sketch_ok"),
        )
    )
    return per_month.unionByName(global_row)


A19_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
       COUNT(DISTINCT o_custkey) AS n_customers,
       TRUE AS sketch_ok
FROM orders GROUP BY 1
UNION ALL
SELECT 'ALL', COUNT(DISTINCT o_custkey), TRUE FROM orders
"""


def a38_kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A38 (extension): MERGEABLE quantile sketch (deterministic KLL,
    operators/sketches.py) — the quantile analogue of a19's HLL rollup
    and the mergeable answer a12's in-aggregate GK sketch cannot give:
    per-task partial sketches are built executor-side (mapInPandas,
    Arrow-batched — the map-side-combine shape: one ~KB row per key per
    task, never raw rows into the shuffle), merged per group
    (applyInPandas), and the resulting blob can recombine into ANY later
    rollup window without rescanning raw rows.

    Oracle contract (the a12/a19 sketch+exact-companion pattern): the
    sketch estimates are implementation-defined, so the output carries
    (a) exact companions both engines compute identically — per-flag row
    count (cross-checked against the sketch's conserved ``n``) and exact
    discrete quantiles (smallest value whose rank reaches
    t = ceil(p*n), integer arithmetic) — and (b) booleans asserting the
    tracked HARD error bound ``|true_rank(est) - t| <= err``
    (operators/sketches.py:24-28): count(x < est) <= t-1+err and
    count(x <= est) >= t-err, computed in-plan from the raw rows. The
    oracle pins the booleans to literal TRUE, so a bound violation —
    impossible unless the kernel is wrong — fails the value hash.

    Scale: partials stream per task (no per-key row explosion); the only
    row-scale shuffles are the exact-companion window sort and the
    rank-count aggregate, both of which exist only to CHECK the sketch —
    at 100 TB you ship the 3 KB-blob rows alone."""
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        make_partial_builder,
        make_sketch_merger,
    )

    lineitem = read_table(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    vals = lineitem.select(
        F.col("l_returnflag").alias("flag"), cents.alias("cents")
    )
    partials = vals.mapInPandas(
        make_partial_builder("flag", "cents"),
        schema="flag string, payload string, err long, n_rows long",
    )
    probs = [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]
    merged = partials.groupBy("flag").applyInPandas(
        make_sketch_merger("flag", probs),
        schema=(
            "flag string, payload string, err long, n_rows long, "
            "est_p50 long, t_p50 long, est_p90 long, t_p90 long, "
            "est_p99 long, t_p99 long"
        ),
    )
    est = F.broadcast(merged.drop("payload"))
    # true rank of each estimate over the raw multiset (one agg pass)
    bound_aggs = []
    for p in ("p50", "p90", "p99"):
        bound_aggs.append(
            F.sum((F.col("cents") < F.col(f"est_{p}")).cast("bigint"))
            .alias(f"lt_{p}")
        )
        bound_aggs.append(
            F.sum((F.col("cents") <= F.col(f"est_{p}")).cast("bigint"))
            .alias(f"le_{p}")
        )
    ranks = (
        vals.join(est, "flag")
        .groupBy("flag", "err", "n_rows", "t_p50", "t_p90", "t_p99")
        .agg(*bound_aggs)
    )
    # exact discrete quantiles: smallest value whose rank reaches
    # t = ceil(p*n) = (num*n + den - 1) DIV den — identical integer
    # arithmetic in DuckDB (the interpolation-free variant of a11/w21)
    wrank = W.partitionBy("flag").orderBy("cents")
    ranked = vals.select(
        "flag",
        "cents",
        F.row_number().over(wrank).alias("rn"),
        F.count("*").over(W.partitionBy("flag")).alias("n"),
    )

    def _exact(name: str, num: int, den: int):
        t = F.expr(f"({num} * n + {den - 1}) DIV {den}")
        return F.min(F.when(F.col("rn") >= t, F.col("cents"))).alias(
            f"exact_{name}_cents"
        )

    exacts = ranked.groupBy("flag").agg(
        _exact("p50", 1, 2), _exact("p90", 9, 10), _exact("p99", 99, 100)
    )
    out = ranks.join(F.broadcast(exacts), "flag")
    ok_cols = [
        (
            (F.col(f"lt_{p}") <= F.col(f"t_{p}") - 1 + F.col("err"))
            & (F.col(f"le_{p}") >= F.col(f"t_{p}") - F.col("err"))
        ).alias(f"sketch_ok_{p}")
        for p in ("p50", "p90", "p99")
    ]
    return out.select(
        "flag",
        F.col("n_rows").alias("n_rows"),
        "exact_p50_cents",
        "exact_p90_cents",
        "exact_p99_cents",
        *ok_cols,
    )


A38_ORACLE = """
WITH vals AS (
  SELECT l_returnflag AS flag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM lineitem
), ranked AS (
  SELECT flag, cents,
         row_number() OVER (PARTITION BY flag ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY flag) AS n
  FROM vals
)
SELECT flag,
       CAST(max(n) AS BIGINT) AS n_rows,
       min(CASE WHEN rn >= (1 * n + 1) // 2 THEN cents END)
         AS exact_p50_cents,
       min(CASE WHEN rn >= (9 * n + 9) // 10 THEN cents END)
         AS exact_p90_cents,
       min(CASE WHEN rn >= (99 * n + 99) // 100 THEN cents END)
         AS exact_p99_cents,
       TRUE AS sketch_ok_p50,
       TRUE AS sketch_ok_p90,
       TRUE AS sketch_ok_p99
FROM ranked GROUP BY flag
"""


def w23_sketch_rolling_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W23 (extension): ROLLING quantile from persisted month sketches —
    the mergeable counterpart of w21's exact rolling p90 and the payoff
    the KLL kernel exists for: one KLL blob per OBSERVED month (built
    once: mapInPandas partials → applyInPandas merge), then every
    trailing-3-observed-month window p90 is a union of ≤3 KB-sized blobs
    — never a rescan of raw order rows. A new month's arrival costs one
    month scan; w21's exact pass re-touches every window it enters.

    Oracle contract (a38 pattern): exact companions — per-window raw-row
    count (cross-checks the merged sketch's conserved ``n``), window
    month-width, and the exact discrete p90 (rank t = ceil(0.9*n)) —
    plus the in-plan hard-bound boolean count(x < est) <= t-1+err AND
    count(x <= est) >= t-err, pinned TRUE in the oracle.

    Scale: the sketch path shuffles month-keyed KB blobs (≤3 per window
    after the explode); the raw-row window expansion exists only for the
    exact CHECK. The ~84-row month index uses a global row_number — a
    one-task window over month-cardinality rows (w22 family)."""
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        make_partial_builder,
        make_sketch_merger,
    )

    orders = read_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    vals = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        cents.alias("cents"),
    )
    partials = vals.mapInPandas(
        make_partial_builder("month", "cents"),
        schema="month string, payload string, err long, n_rows long",
    )
    monthly = partials.groupBy("month").applyInPandas(
        make_sketch_merger("month", []),
        schema="month string, payload string, err long, n_rows long",
    )
    # observed-month index (dense, gap-skipping — the w21 observed-window
    # semantics); month-cardinality rows, one-task window
    midx = vals.select("month").distinct().select(
        "month", F.row_number().over(W.orderBy("month")).alias("idx")
    )
    # each month blob serves windows idx..idx+2; inner-join to real
    # window labels drops phantom trailing windows
    contrib = (
        monthly.join(F.broadcast(midx), "month")
        .select(
            F.explode(
                F.sequence(F.col("idx"), F.col("idx") + F.lit(2))
            ).alias("widx"),
            "payload",
            "err",
            "n_rows",
        )
        .join(
            F.broadcast(
                midx.select(
                    F.col("idx").alias("widx"), F.col("month").alias("w_month")
                )
            ),
            "widx",
        )
        .select(F.col("w_month").alias("month"), "payload", "err", "n_rows")
    )
    rolled = contrib.groupBy("month").applyInPandas(
        make_sketch_merger("month", [("p90", 9, 10)]),
        schema=(
            "month string, payload string, err long, n_rows long, "
            "est_p90 long, t_p90 long"
        ),
    )
    # exact companion: expand raw rows into their trailing windows via the
    # same month map (≤3 window rows per order row, broadcast map)
    wmap = midx.alias("w").join(
        F.broadcast(midx.alias("m")),
        (F.col("m.idx") >= F.col("w.idx") - 2)
        & (F.col("m.idx") <= F.col("w.idx")),
    ).select(
        F.col("w.month").alias("w_month"), F.col("m.month").alias("member")
    )
    expanded = vals.join(
        F.broadcast(wmap), vals["month"] == wmap["member"]
    ).select(F.col("w_month").alias("month"), "cents")
    ranked = expanded.select(
        "month",
        "cents",
        F.row_number()
        .over(W.partitionBy("month").orderBy("cents"))
        .alias("rn"),
        F.count("*").over(W.partitionBy("month")).alias("n"),
    )
    exacts = ranked.groupBy("month").agg(
        F.min(
            F.when(
                F.col("rn") >= F.expr("(9 * n + 9) DIV 10"), F.col("cents")
            )
        ).alias("exact_p90_cents")
    )
    n_months = wmap.groupBy(F.col("w_month").alias("month")).agg(
        F.count("*").cast("bigint").alias("n_window_months")
    )
    est = F.broadcast(rolled.drop("payload"))
    bounds = (
        expanded.join(est, "month")
        .groupBy("month", "err", "n_rows", "t_p90")
        .agg(
            F.sum((F.col("cents") < F.col("est_p90")).cast("bigint")).alias(
                "lt_p90"
            ),
            F.sum((F.col("cents") <= F.col("est_p90")).cast("bigint")).alias(
                "le_p90"
            ),
        )
    )
    return (
        bounds.join(F.broadcast(exacts), "month")
        .join(F.broadcast(n_months), "month")
        .select(
            "month",
            F.col("n_rows").alias("n_window_rows"),
            "n_window_months",
            "exact_p90_cents",
            (
                (F.col("lt_p90") <= F.col("t_p90") - 1 + F.col("err"))
                & (F.col("le_p90") >= F.col("t_p90") - F.col("err"))
            ).alias("sketch_ok_p90"),
        )
    )


W23_ORACLE = """
WITH vals AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), midx AS (
  SELECT month, row_number() OVER (ORDER BY month) AS idx
  FROM (SELECT DISTINCT month FROM vals)
), wmap AS (
  SELECT w.month AS w_month, m.month AS member
  FROM midx w JOIN midx m ON m.idx BETWEEN w.idx - 2 AND w.idx
), expanded AS (
  SELECT wmap.w_month AS month, v.cents
  FROM vals v JOIN wmap ON v.month = wmap.member
), ranked AS (
  SELECT month, cents,
         row_number() OVER (PARTITION BY month ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY month) AS n
  FROM expanded
), exacts AS (
  SELECT month,
         CAST(max(n) AS BIGINT) AS n_window_rows,
         min(CASE WHEN rn >= (9 * n + 9) // 10 THEN cents END)
           AS exact_p90_cents
  FROM ranked GROUP BY month
), widths AS (
  SELECT w_month AS month, CAST(count(*) AS BIGINT) AS n_window_months
  FROM wmap GROUP BY 1
)
SELECT e.month, e.n_window_rows, w.n_window_months, e.exact_p90_cents,
       TRUE AS sketch_ok_p90
FROM exacts e JOIN widths w ON e.month = w.month
"""


#: Misra-Gries capacity / report depth for a39. cap=8 forces real
#: reductions even at sf0.001 (10 suppliers -> >8 distinct items per
#: flag), so the d-tracking paths are exercised at every scale.
MG_CAP = 8


MG_TOPK = 3


def a39_mg_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A39 (extension): MERGEABLE frequency sketch (deterministic
    Misra-Gries, operators/sketches.py) — the heavy-hitter analogue of
    a38's KLL: per-task partial sketches (mapInPandas, exact batch
    value_counts folded via the merge rule), merged per flag
    (applyInPandas), at most MG_CAP counters per blob. What
    ts_countmin_sketch cannot offer: the counter blob is a first-class
    mergeable value — any later rollup window recombines KB-sized blobs
    instead of rescanning rows — and the error term ``d`` is tracked
    EXACTLY, not probabilistically.

    Oracle contract (a38 pattern): output rows are the EXACT top-k items
    per flag (count desc, item asc — deterministic both engines), plus
    three in-plan booleans the oracle pins to literal TRUE:
      mg_ok    — cnt - d <= est(item) <= cnt (est probed JVM-side via
                 from_json + try_element_at on the blob; holds for ALL
                 items by the MG guarantee, absent => est 0 and cnt<=d);
      derr_ok  — d * (cap+1) <= n, the merge-tree-independent weight
                 argument (Agarwal et al., Mergeable Summaries), so ANY
                 partitioning of the scan must satisfy it;
      n_ok     — the sketch's conserved n equals the exact row count.
    A kernel bug fails the value hash on the next run.

    Item skew is engineered (TPC-H keys are uniform — the adversarial
    no-heavy-hitter case): 90% of rows (l_quantity <= 45) fold onto 7
    hot items, the rest keep their raw suppkey, mirrored verbatim in the
    oracle. The sketch must then actually FIND the hot items for mg_ok's
    lower bound to bind.

    Scale: partials stream per task (cap-bounded rows into the shuffle,
    never raw rows); the exact groupBy(flag, item) count + top-k window
    exist only to CHECK the sketch and are droppable at 100 TB.

    Reference parity: no frequency-sketch operator exists in the
    reference; extends its profiling tier (gold_expectations.py) the
    same way a38 does for quantiles."""
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        make_mg_merger,
        make_mg_partial_builder,
    )

    lineitem = read_table(spark, sf_dir, "lineitem")
    item = (
        F.when(F.col("l_quantity") <= 45, F.col("l_suppkey") % 7)
        .otherwise(F.col("l_suppkey"))
        .cast("bigint")
    )
    # NULL items (a NULL l_suppkey in the fold) are excluded from the
    # whole vals stream — sketch AND exact companion stay symmetric, and
    # both engines' GROUP BY would otherwise disagree with the kernel's
    # loud no-null contract (r13 null-bucket sweep)
    vals = lineitem.select(
        F.col("l_returnflag").alias("flag"), item.alias("item")
    ).where(F.col("item").isNotNull())
    partials = vals.mapInPandas(
        make_mg_partial_builder("flag", "item", MG_CAP),
        schema="flag string, counters string, d long, n_rows long",
    )
    merged = partials.groupBy("flag").applyInPandas(
        make_mg_merger("flag", MG_CAP),
        schema="flag string, counters string, d long, n_rows long",
    )
    est_side = merged.select(
        "flag",
        F.from_json("counters", "map<string,bigint>").alias("cmap"),
        "d",
        "n_rows",
    )
    exact = vals.groupBy("flag", "item").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    totals = exact.groupBy("flag").agg(
        F.sum("cnt").cast("bigint").alias("total")
    )
    wtop = W.partitionBy("flag").orderBy(F.col("cnt").desc(), F.col("item"))
    top = exact.select(
        "flag", "item", "cnt", F.row_number().over(wtop).alias("rank")
    ).where(F.col("rank") <= MG_TOPK)
    est = F.coalesce(
        F.try_element_at("cmap", F.col("item").cast("string")), F.lit(0)
    )
    return (
        top.join(F.broadcast(est_side), "flag")
        .join(F.broadcast(totals), "flag")
        .select(
            "flag",
            "rank",
            "item",
            "cnt",
            ((est <= F.col("cnt")) & (est >= F.col("cnt") - F.col("d"))).alias(
                "mg_ok"
            ),
            (F.col("d") * (MG_CAP + 1) <= F.col("n_rows")).alias("derr_ok"),
            (F.col("n_rows") == F.col("total")).alias("n_ok"),
        )
    )


A39_ORACLE = f"""
WITH vals AS (
  SELECT flag, item FROM (
    SELECT l_returnflag AS flag,
           CAST(CASE WHEN l_quantity <= 45 THEN l_suppkey % 7
                ELSE l_suppkey END AS BIGINT) AS item
    FROM lineitem
  ) WHERE item IS NOT NULL
), exact AS (
  SELECT flag, item, CAST(count(*) AS BIGINT) AS cnt
  FROM vals GROUP BY 1, 2
), ranked AS (
  SELECT flag, item, cnt,
         row_number() OVER (PARTITION BY flag ORDER BY cnt DESC, item)
           AS rank
  FROM exact
)
SELECT flag, CAST(rank AS INTEGER) AS rank, item, cnt,
       TRUE AS mg_ok, TRUE AS derr_ok, TRUE AS n_ok
FROM ranked WHERE rank <= {MG_TOPK}
"""


def w24_mg_rolling_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W24 (extension): ROLLING heavy hitters from persisted month MG
    blobs — the frequency counterpart of w23 and the payoff the
    Misra-Gries kernel's mergeability exists for: one cap-bounded
    counter blob per OBSERVED month (built once), then every
    trailing-3-observed-month window's top customers come from merging
    ≤3 KB-sized blobs — never a rescan of raw order rows. A new month's
    arrival costs one month scan; the exact pass re-touches every
    window it enters.

    Oracle contract (a39 pattern): output rows are the EXACT top-k
    items per window (count desc, item asc), plus the three in-plan
    booleans pinned TRUE — mg_ok (per-item bound vs the WINDOW-merged
    blob), derr_ok (d*(cap+1) <= n survives the two-level merge tree:
    task partials -> month blobs -> window merge), n_ok (merged n
    equals the window's exact row count). Item skew engineered as in
    a39 (90% of rows fold onto 5 hot customers), mirrored in the
    oracle.

    Scale: the sketch path shuffles month-keyed KB blobs (≤3 per window
    after the explode); the raw-row window expansion exists only for
    the exact CHECK. The ~84-row month index uses a global row_number —
    one-task window over month-cardinality rows (w22/w23 family)."""
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        make_mg_merger,
        make_mg_partial_builder,
    )

    orders = read_table(spark, sf_dir, "orders")
    item = (
        F.when(F.dayofmonth("o_orderdate") <= 27, F.col("o_custkey") % 5)
        .otherwise(F.col("o_custkey"))
        .cast("bigint")
    )
    vals = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        item.alias("item"),
    ).where(F.col("item").isNotNull())  # null-bucket exclusion, a39 pattern
    mg_schema = "month string, counters string, d long, n_rows long"
    partials = vals.mapInPandas(
        make_mg_partial_builder("month", "item", MG_CAP), schema=mg_schema
    )
    monthly = partials.groupBy("month").applyInPandas(
        make_mg_merger("month", MG_CAP), schema=mg_schema
    )
    # observed-month index + blob fan-out to trailing windows (w23 shape)
    midx = vals.select("month").distinct().select(
        "month", F.row_number().over(W.orderBy("month")).alias("idx")
    )
    contrib = (
        monthly.join(F.broadcast(midx), "month")
        .select(
            F.explode(
                F.sequence(F.col("idx"), F.col("idx") + F.lit(2))
            ).alias("widx"),
            "counters",
            "d",
            "n_rows",
        )
        .join(
            F.broadcast(
                midx.select(
                    F.col("idx").alias("widx"), F.col("month").alias("w_month")
                )
            ),
            "widx",
        )
        .select(F.col("w_month").alias("month"), "counters", "d", "n_rows")
    )
    rolled = contrib.groupBy("month").applyInPandas(
        make_mg_merger("month", MG_CAP), schema=mg_schema
    )
    est_side = rolled.select(
        "month",
        F.from_json("counters", "map<string,bigint>").alias("cmap"),
        "d",
        "n_rows",
    )
    # exact companion: expand raw rows into their trailing windows
    wmap = midx.alias("w").join(
        F.broadcast(midx.alias("m")),
        (F.col("m.idx") >= F.col("w.idx") - 2)
        & (F.col("m.idx") <= F.col("w.idx")),
    ).select(
        F.col("w.month").alias("w_month"), F.col("m.month").alias("member")
    )
    expanded = vals.join(
        F.broadcast(wmap), vals["month"] == wmap["member"]
    ).select(F.col("w_month").alias("month"), "item")
    exact = expanded.groupBy("month", "item").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    totals = exact.groupBy("month").agg(
        F.sum("cnt").cast("bigint").alias("total")
    )
    wtop = W.partitionBy("month").orderBy(F.col("cnt").desc(), F.col("item"))
    top = exact.select(
        "month", "item", "cnt", F.row_number().over(wtop).alias("rank")
    ).where(F.col("rank") <= MG_TOPK)
    est = F.coalesce(
        F.try_element_at("cmap", F.col("item").cast("string")), F.lit(0)
    )
    return (
        top.join(F.broadcast(est_side), "month")
        .join(F.broadcast(totals), "month")
        .select(
            "month",
            "rank",
            "item",
            "cnt",
            ((est <= F.col("cnt")) & (est >= F.col("cnt") - F.col("d"))).alias(
                "mg_ok"
            ),
            (F.col("d") * (MG_CAP + 1) <= F.col("n_rows")).alias("derr_ok"),
            (F.col("n_rows") == F.col("total")).alias("n_ok"),
        )
    )


W24_ORACLE = f"""
WITH vals AS (
  SELECT month, item FROM (
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(CASE WHEN day(o_orderdate) <= 27 THEN o_custkey % 5
                ELSE o_custkey END AS BIGINT) AS item
    FROM orders
  ) WHERE item IS NOT NULL
), midx AS (
  SELECT month, row_number() OVER (ORDER BY month) AS idx
  FROM (SELECT DISTINCT month FROM vals)
), wmap AS (
  SELECT w.month AS w_month, m.month AS member
  FROM midx w JOIN midx m ON m.idx BETWEEN w.idx - 2 AND w.idx
), expanded AS (
  SELECT wmap.w_month AS month, v.item
  FROM vals v JOIN wmap ON v.month = wmap.member
), exact AS (
  SELECT month, item, CAST(count(*) AS BIGINT) AS cnt
  FROM expanded GROUP BY 1, 2
), ranked AS (
  SELECT month, item, cnt,
         row_number() OVER (PARTITION BY month ORDER BY cnt DESC, item)
           AS rank
  FROM exact
)
SELECT month, CAST(rank AS INTEGER) AS rank, item, cnt,
       TRUE AS mg_ok, TRUE AS derr_ok, TRUE AS n_ok
FROM ranked WHERE rank <= {MG_TOPK}
"""


KMV_K = 64


#: (KMV_K - 1) * 2**60 as an EXACT double literal (63 fits in 6 mantissa
#: bits) — the estimator numerator, written identically in both engines so
#: the single division est = NUM / kth is bit-stable.
KMV_NUM = float((KMV_K - 1) << 60)


def _md5_60(prefix: str, col):
    """60-bit md5-prefix hash of ``prefix || col``, JVM-side (codegen) —
    the ONE definition every hash-family query derives from (KMV 'kmv:',
    universe sampling 'us:', x12's delta split 'xd:', the advisor's
    'adv:'), so the Spark side can never drift from its oracle mirror
    ``('0x' || substr(md5(prefix || x), 1, 15))::BIGINT`` in DuckDB or
    ``int(md5(prefix+x).hexdigest()[:15], 16)`` in Python (parity
    asserted in tests/test_sketches.py)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(prefix), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


def _kmv_hash(col):
    """The KMV sketch family's hash: ``_md5_60('kmv:', col)``."""
    return _md5_60("kmv:", col)


def _kmv_est(n_hashes=None, kth=None):
    """The KMV estimate expression: exact (as a double) while the sketch
    holds < k hashes, else the classic (k-1)·2^60 / kth-smallest — one
    definition for every query so the estimator can never diverge from
    its SQL mirror."""
    n_hashes = F.col("n_hashes") if n_hashes is None else n_hashes
    kth = F.col("kth") if kth is None else kth
    return F.when(n_hashes < KMV_K, n_hashes.cast("double")).otherwise(
        F.lit(KMV_NUM) / kth.cast("double")
    )


def _kmv_sketch_by(hashed: DataFrame, key: str) -> DataFrame:
    """(key, h) rows → one merged KMV blob row per key: mapInPandas
    partials (≤k longs per task×key cross the shuffle) → applyInPandas
    merge, emitting ``(key, payload, n_hashes, kth)`` — the shared
    pipeline behind a40/w25/x12/a41 and the group-by advisor."""
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        make_kmv_merger,
        make_kmv_partial_builder,
    )

    # NULL hashes (a NULL key under _md5_60) are excluded HERE, not in
    # the kernel: countDistinct ignores NULLs in both engines, so the
    # sketch stream must too — a fat null bucket in a production feed
    # otherwise crashes the partial builder, whose no-null contract
    # stays deliberately loud (found by the r13 null-bucket stress
    # sweep: 20% NULL join keys crashed every KMV call site). Every
    # oracle mirrors the exclusion in its h-CTE.
    partials = hashed.where(F.col("h").isNotNull()).mapInPandas(
        make_kmv_partial_builder(key, "h", KMV_K),
        schema=f"{key} string, payload string",
    )
    return partials.groupBy(key).applyInPandas(
        make_kmv_merger(key, KMV_K),
        schema=f"{key} string, payload string, n_hashes long, kth long",
    )


def a40_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A40 (extension): MERGEABLE distinct-count sketch (KMV / bottom-k,
    operators/sketches.py) — the cardinality member of the a38/a39
    family: per-task partial sketches (mapInPandas over a JVM-hashed
    column, so md5 stays in codegen), merged per order status
    (applyInPandas), k smallest distinct 60-bit hashes per blob.
    Estimate: exact while the sketch holds < k hashes, else the classic
    (k-1)·2^60 / kth-smallest.

    Oracle contract — STRONGER than a38/a39's bound-pinning: because the
    KMV state is a pure deterministic function of the input SET (fixed
    md5 hash, no randomness, no order dependence), DuckDB reproduces the
    ESTIMATE ITSELF bit-for-bit (same bottom-k via row_number over the
    same hashes, same IEEE division), not just an invariant about it.
    What Spark's built-in approx_count_distinct / hll_sketch_agg cannot
    offer here: a first-class recombinable blob (w25 merges these across
    windows) AND an engine-independent value.

    Scale: partials ship ≤ k longs per (task, status) into the shuffle,
    never raw rows; the exact count-distinct companion is the CHECK and
    is droppable at 100 TB."""
    orders = read_table(spark, sf_dir, "orders")
    merged = _kmv_sketch_by(
        orders.select(
            F.col("o_orderstatus").alias("status"),
            _kmv_hash(F.col("o_custkey")).alias("h"),
        ),
        "status",
    )
    exact = orders.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("o_custkey").cast("bigint").alias("exact_distinct"),
    )
    return (
        exact.join(F.broadcast(merged), "status")
        .withColumn("est_distinct", _kmv_est())
        .select(
            "status",
            "n_rows",
            "exact_distinct",
            "n_hashes",
            "est_distinct",
            (
                (F.col("est_distinct") - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
            ).alias("rel_err"),
        )
    )


A40_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT o_orderstatus AS status,
         ('0x' || substr(md5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM orders WHERE o_custkey IS NOT NULL
), ranked AS (
  SELECT status, h,
         row_number() OVER (PARTITION BY status ORDER BY h) AS r,
         count(*) OVER (PARTITION BY status) AS nd
  FROM h
), sk AS (
  SELECT status,
         CAST(LEAST(nd, {KMV_K}) AS BIGINT) AS n_hashes,
         max(CASE WHEN r = {KMV_K} THEN h END) AS kth
  FROM ranked GROUP BY status, nd
), est AS (
  SELECT status, n_hashes,
         CASE WHEN n_hashes < {KMV_K} THEN CAST(n_hashes AS DOUBLE)
              ELSE CAST({KMV_NUM!r} AS DOUBLE) / CAST(kth AS DOUBLE)
         END AS est_distinct
  FROM sk
), exact AS (
  SELECT o_orderstatus AS status,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
  FROM orders GROUP BY 1
)
SELECT status, n_rows, exact_distinct, n_hashes, est_distinct,
       (est_distinct - CAST(exact_distinct AS DOUBLE))
         / CAST(exact_distinct AS DOUBLE) AS rel_err
FROM exact JOIN est USING (status)
"""


def _kmv_rolling_report(monthly: DataFrame, vals: DataFrame) -> DataFrame:
    """Trailing-3-observed-month KMV rollup, shared by w25 (blobs built
    inline) and w26 (blobs read from the persisted x12 mart — identical
    math, different blob provenance). ``monthly`` carries one
    (month, payload) blob per observed month; ``vals`` carries the raw
    (month, cust) pairs for the exact companion and the month index.
    Output per window-month: window width, exact distinct, merged-blob
    n_hashes/estimate, rel_err."""
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        make_kmv_merger,
    )

    kmv_schema = "month string, payload string, n_hashes long, kth long"
    # observed-month index + blob fan-out to trailing windows (w24 shape)
    midx = vals.select("month").distinct().select(
        "month", F.row_number().over(W.orderBy("month")).alias("idx")
    )
    contrib = (
        monthly.select("month", "payload")
        .join(F.broadcast(midx), "month")
        .select(
            F.explode(
                F.sequence(F.col("idx"), F.col("idx") + F.lit(2))
            ).alias("widx"),
            "payload",
        )
        .join(
            F.broadcast(
                midx.select(
                    F.col("idx").alias("widx"), F.col("month").alias("w_month")
                )
            ),
            "widx",
        )
        .select(F.col("w_month").alias("month"), "payload")
    )
    rolled = contrib.groupBy("month").applyInPandas(
        make_kmv_merger("month", KMV_K), schema=kmv_schema
    )
    # exact companion: expand distinct (month, cust) pairs into windows
    wmap = midx.alias("w").join(
        F.broadcast(midx.alias("m")),
        (F.col("m.idx") >= F.col("w.idx") - 2)
        & (F.col("m.idx") <= F.col("w.idx")),
    ).select(
        F.col("w.month").alias("w_month"), F.col("m.month").alias("member")
    )
    pairs = vals.select("month", "cust").distinct()
    exact = (
        pairs.join(F.broadcast(wmap), pairs["month"] == wmap["member"])
        .select(F.col("w_month").alias("month"), "cust")
        .groupBy("month")
        .agg(F.countDistinct("cust").cast("bigint").alias("exact_distinct"))
    )
    nw = wmap.groupBy(F.col("w_month").alias("month")).agg(
        F.count("*").cast("bigint").alias("n_window_months")
    )
    return (
        exact.join(F.broadcast(rolled), "month")
        .join(F.broadcast(nw), "month")
        .withColumn("est_distinct", _kmv_est())
        .select(
            "month",
            "n_window_months",
            "exact_distinct",
            "n_hashes",
            "est_distinct",
            (
                (F.col("est_distinct") - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
            ).alias("rel_err"),
        )
    )


def w25_kmv_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W25 (extension): ROLLING distinct customers from persisted month
    KMV blobs — the cardinality counterpart of w23/w24 and the payoff
    the bottom-k kernel's mergeability exists for: one ≤k-hash blob per
    OBSERVED month (built once), then every trailing-3-observed-month
    window's distinct-customer estimate comes from merging ≤3 KB-sized
    blobs — never a rescan of raw order rows, and never a re-count:
    Spark's own count(DISTINCT)/HLL state can't be persisted+recombined
    across arbitrary windows like this.

    Oracle contract: the merge identity bottom-k(A ∪ B) =
    bottom-k(bottom-k(A) ∪ bottom-k(B)) means the window-merged blob
    equals the bottom-k of the window's full distinct-hash set — which
    is exactly what DuckDB computes from raw rows. The oracle therefore
    reproduces n_hashes, the estimate, and rel_err bit-for-bit; any
    kernel merge bug (lost hash, broken truncation) hash-fails. Window
    widths at the calendar's start exercise the exact (< k) branch;
    steady-state windows (~500 distinct) exercise the estimator branch.

    Scale: the sketch path shuffles month-keyed KB blobs (≤3 per window
    after the explode); the raw-row window expansion exists only for the
    exact CHECK. The ~80-row month index uses a global row_number —
    one-task window over month-cardinality rows (w22/w23/w24 family)."""
    orders = read_table(spark, sf_dir, "orders")
    vals = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.col("o_custkey").alias("cust"),
        _kmv_hash(F.col("o_custkey")).alias("h"),
    )
    monthly = _kmv_sketch_by(vals.select("month", "h"), "month")
    return _kmv_rolling_report(monthly, vals)


W25_ORACLE = f"""
WITH vals AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_custkey AS cust,
         ('0x' || substr(md5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM orders
), midx AS (
  SELECT month, row_number() OVER (ORDER BY month) AS idx
  FROM (SELECT DISTINCT month FROM vals)
), wmap AS (
  SELECT w.month AS w_month, m.month AS member
  FROM midx w JOIN midx m ON m.idx BETWEEN w.idx - 2 AND w.idx
), hexp AS (
  SELECT DISTINCT wmap.w_month AS month, v.h
  FROM (SELECT DISTINCT month, h FROM vals WHERE h IS NOT NULL) v
  JOIN wmap ON v.month = wmap.member
), ranked AS (
  SELECT month, h,
         row_number() OVER (PARTITION BY month ORDER BY h) AS r,
         count(*) OVER (PARTITION BY month) AS nd
  FROM hexp
), sk AS (
  SELECT month,
         CAST(LEAST(nd, {KMV_K}) AS BIGINT) AS n_hashes,
         max(CASE WHEN r = {KMV_K} THEN h END) AS kth
  FROM ranked GROUP BY month, nd
), est AS (
  SELECT month, n_hashes,
         CASE WHEN n_hashes < {KMV_K} THEN CAST(n_hashes AS DOUBLE)
              ELSE CAST({KMV_NUM!r} AS DOUBLE) / CAST(kth AS DOUBLE)
         END AS est_distinct
  FROM sk
), cexp AS (
  SELECT DISTINCT wmap.w_month AS month, v.cust
  FROM (SELECT DISTINCT month, cust FROM vals WHERE cust IS NOT NULL) v
  JOIN wmap ON v.month = wmap.member
), exact AS (
  SELECT month, CAST(count(*) AS BIGINT) AS exact_distinct
  FROM cexp GROUP BY month
), nw AS (
  SELECT w_month AS month, CAST(count(*) AS BIGINT) AS n_window_months
  FROM wmap GROUP BY 1
)
SELECT month, n_window_months, exact_distinct, n_hashes, est_distinct,
       (est_distinct - CAST(exact_distinct AS DOUBLE))
         / CAST(exact_distinct AS DOUBLE) AS rel_err
FROM exact JOIN est USING (month) JOIN nw USING (month)
"""


def w26_mart_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W26 (extension): rolling distinct customers from the PERSISTED
    x12 sketch mart — the composition that completes the mergeable-blob
    story: x12 maintains the month-blob mart incrementally on disk
    (base ⊎ delta through the S5 MERGE-upsert seam); this query only
    READS those stored blobs and recombines them into trailing-3-month
    windows via `_kmv_rolling_report` (w25's exact math). Where w25
    proves blobs recombine WITHIN one plan, w26 proves blobs written by
    one job recombine in ANOTHER — the dashboard-over-a-sketch-mart
    pattern: the sketch path touches ~80 KB-sized mart rows, zero raw
    order rows.

    Oracle contract: the mart holds bottom-k over ALL rows per month
    (x12's maintenance ≡ recompute guarantee), and the merge identity
    bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)) makes each
    window's merged blob equal the bottom-k of the window's full
    distinct-hash set — exactly what DuckDB computes from raw rows, so
    every estimate is reproduced bit-for-bit through the maintenance +
    persistence + window-recombination chain end to end.

    Scale: the only row-scale scan is the exact companion (the CHECK,
    droppable at 100 TB); the sketch path is mart-sized — this is the
    query shape that answers "distinct users, any trailing window" on
    100 TB of history without ever rescanning it."""
    path = _x12_mart(spark, sf_dir)
    monthly = spark.read.parquet(path).select(
        F.col("month").cast("string").alias("month"), "payload"
    )
    orders = read_table(spark, sf_dir, "orders")
    vals = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.col("o_custkey").alias("cust"),
    )
    return _kmv_rolling_report(monthly, vals)


#: w26 reads the x12-maintained mart, whose blobs are hash-proven ≡
#: bottom-k over ALL rows — so the oracle recomputes the window rollup
#: from raw rows exactly as w25's does
W26_ORACLE = W25_ORACLE


U_RATE = 8  # keep 1/U_RATE of the customer-key universe


U_THRESH = (1 << 60) // U_RATE  # h < U_THRESH <=> key sampled


def o11_universe_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 (extension): UNIVERSE (hash) sampling — the join-consistent
    sampling technique uniform row sampling cannot give. Sampling rows
    independently from two fact tables keeps only p² of their join
    pairs; sampling the join-key UNIVERSE (keep key x iff
    md5_60('us:'||x) < 2^60/U_RATE, the a40 hash family) selects the
    SAME keys on every table, so sampled orders join sampled customers
    with ZERO pair loss and any per-key group is either fully in or
    fully out — the correlated/universe sampling of the AQP literature
    (BlinkDB/Quickr lineage), and the sampling mode a 100 TB
    training-data pipeline uses for cheap cross-table dashboards:
    filters push to the scan (hash predicate on the key column,
    no shuffle added), estimates scale by U_RATE.

    Per market segment: sampled customer/order counts, the scaled
    estimates, and exact companions. The zero-pair-loss property is
    surfaced as an OBSERVABLE pair of global columns (ADVICE r11):
    ``n_ord_sampled_tot`` counts sampled orders from the sord scan ALONE
    (no customer join) while ``n_ord_joined_tot`` sums the per-segment
    joined counts — equality states that every sampled order found its
    (necessarily sampled) customer, which independent row sampling
    cannot promise; the unit test asserts it and the oracle hash pins
    both numbers. Revenue goes through exact DECIMAL accumulation cast
    to double (catalog convention) so the oracle hash-matches; the
    deterministic md5 hash makes every estimate engine-reproducible
    (a40 contract).

    Scale: two scan-local hash filters + one broadcast-dim join; the
    exact companions are the CHECK. Segments that drew no sampled
    customer surface with zeroed counts (LEFT join + COALESCE both
    engines)."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")

    scust = cust.where(_md5_60("us:", F.col("c_custkey")) < U_THRESH)
    sord = orders.where(_md5_60("us:", F.col("o_custkey")) < U_THRESH)
    dec_rev = lambda c: F.sum(F.col(c).cast("decimal(18,2)"))  # noqa: E731
    samp_cust = scust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("bigint").alias("n_cust_s")
    )
    samp_join = (
        sord.join(
            F.broadcast(scust.select("c_custkey", "c_mktsegment")),
            sord["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("bigint").alias("n_ord_joined"),
            dec_rev("o_totalprice").alias("rev_s_dec"),
        )
    )
    exact = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("bigint").alias("exact_orders"),
            dec_rev("o_totalprice").alias("exact_rev_dec"),
        )
    )
    exact_cust = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("bigint").alias("exact_cust")
    )
    # zero-pair-loss observables (ADVICE r11): sampled-order count from
    # the scan alone vs the sum of joined counts — 1-row aggregates,
    # broadcast onto every segment row
    sord_tot = sord.agg(
        F.count("*").cast("bigint").alias("n_ord_sampled_tot")
    )
    joined_tot = samp_join.agg(
        F.coalesce(F.sum("n_ord_joined"), F.lit(0))
        .cast("bigint")
        .alias("n_ord_joined_tot")
    )
    z = F.lit(0).cast("bigint")
    out = (
        exact.join(F.broadcast(exact_cust), "segment")
        .join(F.broadcast(samp_cust), "segment", "left")
        .join(F.broadcast(samp_join), "segment", "left")
        .crossJoin(F.broadcast(sord_tot))
        .crossJoin(F.broadcast(joined_tot))
        .select(
            "segment",
            "exact_cust",
            "exact_orders",
            F.col("exact_rev_dec").cast("double").alias("exact_rev"),
            F.coalesce("n_cust_s", z).alias("n_cust_s"),
            F.coalesce("n_ord_joined", z).alias("n_ord_s"),
            "n_ord_sampled_tot",
            "n_ord_joined_tot",
            (
                F.lit(float(U_RATE)) * F.coalesce("n_cust_s", z).cast("double")
            ).alias("est_cust"),
            (
                F.lit(float(U_RATE))
                * F.coalesce("n_ord_joined", z).cast("double")
            ).alias("est_orders"),
            (
                F.lit(float(U_RATE))
                * F.coalesce(
                    F.col("rev_s_dec").cast("double"), F.lit(0.0)
                )
            ).alias("est_rev"),
        )
    )
    return out.withColumn(
        "rel_err_rev",
        (F.col("est_rev") - F.col("exact_rev")) / F.col("exact_rev"),
    )


O11_ORACLE = f"""
WITH scust AS (
  SELECT * FROM customer
  WHERE ('0x' || substr(md5('us:' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
        < {U_THRESH}
), sord AS (
  SELECT * FROM orders
  WHERE ('0x' || substr(md5('us:' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
        < {U_THRESH}
), samp_cust AS (
  SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_cust_s
  FROM scust GROUP BY 1
), samp_join AS (
  SELECT c.c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS n_ord_joined,
         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev_s_dec
  FROM sord o JOIN scust c ON o.o_custkey = c.c_custkey
  GROUP BY 1
), exact AS (
  SELECT c.c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS exact_orders,
         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS exact_rev_dec
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
), exact_cust AS (
  SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS exact_cust
  FROM customer GROUP BY 1
), sord_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_ord_sampled_tot FROM sord
), joined_tot AS (
  SELECT CAST(COALESCE(sum(n_ord_joined), 0) AS BIGINT) AS n_ord_joined_tot
  FROM samp_join
)
SELECT e.segment, ec.exact_cust, e.exact_orders,
       CAST(e.exact_rev_dec AS DOUBLE) AS exact_rev,
       COALESCE(sc.n_cust_s, CAST(0 AS BIGINT)) AS n_cust_s,
       COALESCE(sj.n_ord_joined, CAST(0 AS BIGINT)) AS n_ord_s,
       st.n_ord_sampled_tot,
       jt.n_ord_joined_tot,
       CAST({U_RATE} AS DOUBLE)
         * CAST(COALESCE(sc.n_cust_s, CAST(0 AS BIGINT)) AS DOUBLE)
         AS est_cust,
       CAST({U_RATE} AS DOUBLE)
         * CAST(COALESCE(sj.n_ord_joined, CAST(0 AS BIGINT)) AS DOUBLE)
         AS est_orders,
       CAST({U_RATE} AS DOUBLE)
         * COALESCE(CAST(sj.rev_s_dec AS DOUBLE), CAST(0 AS DOUBLE))
         AS est_rev,
       (CAST({U_RATE} AS DOUBLE)
          * COALESCE(CAST(sj.rev_s_dec AS DOUBLE), CAST(0 AS DOUBLE))
          - CAST(e.exact_rev_dec AS DOUBLE))
         / CAST(e.exact_rev_dec AS DOUBLE) AS rel_err_rev
FROM exact e
JOIN exact_cust ec ON ec.segment = e.segment
LEFT JOIN samp_cust sc ON sc.segment = e.segment
LEFT JOIN samp_join sj ON sj.segment = e.segment
CROSS JOIN sord_tot st
CROSS JOIN joined_tot jt
"""


def x11_incremental_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11 (extension): INCREMENTAL mart maintenance — the aggregate-delta
    algebra a lakehouse runs nightly instead of recomputing marts from
    scratch (the reference's Delta marts upsert via MERGE,
    spark_jobs/gold_marts/*: same contract, here hash-PROVEN). The last
    3 observed months are "the delta batch"; the mart (month x status
    counts + exact-decimal revenue) is maintained as
    partial-agg(base) ⊎ partial-agg(delta) → re-aggregate — touching
    delta rows plus MART-GRAIN rows only, never base rows again (in this
    single-plan catalog surface the base partial is computed inline; in
    deployment it IS the stored mart — sources/writers.py's MERGE upsert
    + the x8 snapshot layer cover that persistence seam).

    Oracle contract: DuckDB recomputes the mart DIRECTLY over all rows —
    hash equality therefore PROVES maintenance ≡ recompute, including
    that the two-level decimal sum (sum of partial sums) is exact, which
    a double accumulation could not promise. in_delta marks the months
    the incremental path actually touched.

    Scale: the win this demonstrates is O(delta + mart) vs O(history) —
    at 100 TB the base partial is a parquet-backed mart read, and the
    merge is a broadcast-sized upsert keyed on mart grain. The 1-row
    cutoff aggregate broadcasts (same pattern as a3/x10)."""
    orders = read_table(spark, sf_dir, "orders")
    cut = orders.select(
        F.add_months(F.date_trunc("month", F.max("o_orderdate")), -2).alias(
            "c"
        )
    )
    with_cut = orders.crossJoin(F.broadcast(cut))
    base = with_cut.where(F.col("o_orderdate") < F.col("c"))
    delta = with_cut.where(F.col("o_orderdate") >= F.col("c"))

    def partial(df):
        return df.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.col("o_orderstatus").alias("status"),
        ).agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r"),
        )

    maintained = (
        partial(base)
        .unionByName(partial(delta))
        .groupBy("month", "status")
        .agg(
            F.sum("n").cast("bigint").alias("n_orders"),
            F.sum("r").alias("rev_dec"),
        )
    )
    cutm = cut.select(F.date_format("c", "yyyy-MM").alias("cut_month"))
    return (
        maintained.crossJoin(F.broadcast(cutm))
        .select(
            "month",
            "status",
            "n_orders",
            F.col("rev_dec").cast("double").alias("revenue"),
            (F.col("month") >= F.col("cut_month")).alias("in_delta"),
        )
    )


X11_ORACLE = """
WITH cut AS (
  SELECT date_trunc('month', max(o_orderdate)) - INTERVAL 2 MONTH AS c
  FROM orders
)
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m')
         >= (SELECT strftime(c, '%Y-%m') FROM cut) AS in_delta
FROM orders
GROUP BY 1, 2
"""


#: delta-batch predicate for x12: rows whose md5-60 hash of 'xd:'||orderkey
#: is ≡ 0 (mod 4) form the late-arriving delta (~25%, touching EVERY month
#: so blob-merge is exercised on every mart row); the rest are the base load
X12_DELTA_MOD = 4


def _x12_build_mart(spark: SparkSession, orders: DataFrame, path: str) -> None:
    """Pure x12 mart build at ``path`` (no fixture logic — the stress
    harness probes this directly on scaled inputs): (1) base load →
    month-partitioned blob mart; (2) the delta batch's partial blobs
    set-union-merged with the STORED blobs, MERGE-upserted back at mart
    grain through the S5 seam."""
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        make_kmv_merger,
        make_kmv_partial_builder,
    )
    from us_dot_flights_lakehouse_spark.sources.writers import (
        merge_upsert_partitioned,
        write_partitioned,
    )

    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    delta_pred = _md5_60("xd:", F.col("o_orderkey")) % X12_DELTA_MOD == 0

    # (1) base load -> v0 mart
    write_partitioned(
        _kmv_sketch_by(
            orders.where(~delta_pred).select(
                month, _kmv_hash(F.col("o_custkey")).alias("h")
            ),
            "month",
        ),
        path,
        partition_by=["month"],
    )
    # (2) incremental maintenance: stored blobs ∪ delta partials ->
    # re-merge at mart grain -> MERGE upsert through the S5 seam
    stored = spark.read.parquet(path).select("month", "payload")
    delta_hashed = orders.where(delta_pred).select(
        month, _kmv_hash(F.col("o_custkey")).alias("h")
    )
    # null-h exclusion as in _kmv_sketch_by (this is the one direct
    # partial-builder call outside that chokepoint — r13 null sweep)
    delta_partials = delta_hashed.where(F.col("h").isNotNull()).mapInPandas(
        make_kmv_partial_builder("month", "h", KMV_K),
        schema="month string, payload string",
    )
    maintained = (
        stored.unionByName(delta_partials)
        .groupBy("month")
        .applyInPandas(
            make_kmv_merger("month", KMV_K),
            schema="month string, payload string, n_hashes long, kth long",
        )
    )
    merge_upsert_partitioned(
        maintained, path, keys=["month"], partition_by=["month"]
    )


def _x12_mart(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the maintained KMV month-mart fixture for ``sf_dir`` exists
    (write-once, source-fingerprint-keyed) and return its path. The
    build protocol — base load → month-partitioned blob mart, delta
    batch merged through the S5 MERGE-upsert seam — is documented on
    ``x12_sketch_mart_maintenance``; ``w26_mart_rolling_distinct`` reads
    the same mart, so the fixture is shared."""
    import os
    import shutil
    import tempfile

    from us_dot_flights_lakehouse_spark.fixtures import source_fingerprint

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    fp = source_fingerprint(sf_dir, "orders")
    out = f"{tempfile.gettempdir()}/us_dot_x12mart_{sf_tag}_{fp}"
    ready = os.path.join(out, "_MART_READY")
    if os.path.isfile(ready):
        return out
    tmp = f"{out}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _x12_build_mart(spark, read_table(spark, sf_dir, "orders"), tmp)
    open(os.path.join(tmp, "_MART_READY"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:
        if os.path.isfile(ready):
            # a concurrent run committed first; fingerprint-keyed
            # marts are byte-equivalent — adopt theirs
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            # torn/markerless directory squatting at `out` (e.g. /tmp
            # aging deleted the marker but not the dir): trusting it
            # would serve a broken mart, and leaving it would make the
            # fixture permanently unbuildable — evict and retry once
            # (the src_xml_roundtrip fixture's posture, review r12). If
            # a concurrent builder recreates `out` between the evict
            # and the retry, adopt its committed mart; anything else
            # re-raises. Eviction is rename-aside, not delete-in-place
            # (ADVICE r12): a concurrent builder may have committed a
            # VALID mart between the isfile(ready) check above and here,
            # and rmtree-ing it mid-read would surface transient
            # missing-file errors to a third reader — the atomic rename
            # keeps any such reader's already-opened files alive, and the
            # fresh marker re-check immediately before it narrows the
            # race to the rename syscall itself (where a now-valid `out`
            # simply wins and we adopt it below).
            if os.path.isfile(ready):
                shutil.rmtree(tmp, ignore_errors=True)
                return out
            evicted = f"{out}.evicted.{os.getpid()}"
            shutil.rmtree(evicted, ignore_errors=True)
            try:
                os.rename(out, evicted)
            except OSError:
                pass  # already gone, or just committed — retry decides
            shutil.rmtree(evicted, ignore_errors=True)
            try:
                os.rename(tmp, out)
            except OSError:
                if not os.path.isfile(ready):
                    raise
                shutil.rmtree(tmp, ignore_errors=True)
    return out


def x12_sketch_mart_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12 (extension): PERSISTED incremental SKETCH-mart maintenance —
    x11's partial-⊎ maintenance algebra where the partial state is a
    mergeable KMV blob (operators/sketches.py), carried across a real
    write/read boundary through the S5 MERGE-upsert seam
    (sources/writers.py::merge_upsert_partitioned). This turns the
    w23/w25 "blobs persist and recombine" design claim into an
    oracle-checked end-to-end fact (VERDICT r11 item 3).

    Protocol (write-once fixture, source-fingerprint-keyed): (1) the
    BASE load — rows whose md5-60('xd:'||o_orderkey) is NOT ≡0 (mod 4)
    — builds one distinct-customer KMV blob per month, written as a
    month-partitioned parquet mart; (2) the DELTA batch (the remaining
    ~25%, late-arriving rows touching every month) builds its own
    partial blobs, which are set-union-merged with the STORED blobs and
    MERGE-upserted back at mart grain — O(delta + mart), the base rows
    are never rescanned; (3) the query reads the maintained mart from
    disk and joins exact companions.

    Oracle contract: DuckDB recomputes each month's bottom-k from ALL
    rows directly — hash equality therefore PROVES maintained ≡
    recomputed THROUGH the persisted mart (any blob-merge, upsert,
    publish, or read bug hash-fails), bit-for-bit on the estimate
    itself (a40's KMV contract). Maintenance is idempotent by
    construction (set-union ∪ truncate), so re-runs and crash-retries
    converge to the same mart.

    Scale: the mart is month-grain — KB blobs, dim-table-sized; the
    delta pass ships ≤k longs per (task, month); the upsert rewrites
    touched month partitions only (here all, by the delta's design).
    The exact count-distinct companion is the CHECK and is droppable at
    100 TB. Reference parity: the reference maintains its Delta marts
    by MERGE (spark_jobs/gold_marts/*); this is that contract with
    sketch-valued state and a cross-engine proof."""
    orders = read_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    out = _x12_mart(spark, sf_dir)
    mart = spark.read.parquet(out).select(
        F.col("month").cast("string").alias("month"), "n_hashes", "kth"
    )
    exact = orders.groupBy(month).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("o_custkey").cast("bigint").alias("exact_distinct"),
    )
    return (
        exact.join(F.broadcast(mart), "month")
        .withColumn("est_distinct", _kmv_est())
        .select(
            "month",
            "n_rows",
            "exact_distinct",
            "n_hashes",
            "est_distinct",
            (
                (F.col("est_distinct") - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
            ).alias("rel_err"),
        )
    )


X12_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month,
         ('0x' || substr(md5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM orders WHERE o_custkey IS NOT NULL
), ranked AS (
  SELECT month, h,
         row_number() OVER (PARTITION BY month ORDER BY h) AS r,
         count(*) OVER (PARTITION BY month) AS nd
  FROM h
), sk AS (
  SELECT month,
         CAST(LEAST(nd, {KMV_K}) AS BIGINT) AS n_hashes,
         max(CASE WHEN r = {KMV_K} THEN h END) AS kth
  FROM ranked GROUP BY month, nd
), est AS (
  SELECT month, n_hashes,
         CASE WHEN n_hashes < {KMV_K} THEN CAST(n_hashes AS DOUBLE)
              ELSE CAST({KMV_NUM!r} AS DOUBLE) / CAST(kth AS DOUBLE)
         END AS est_distinct
  FROM sk
), exact AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
  FROM orders GROUP BY 1
)
SELECT month, n_rows, exact_distinct, n_hashes, est_distinct,
       (est_distinct - CAST(exact_distinct AS DOUBLE))
         / CAST(exact_distinct AS DOUBLE) AS rel_err
FROM exact JOIN est USING (month)
"""


def a41_sampled_kmv_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A41 (extension): UNIVERSE-SAMPLED sketch cross-check — the o11 ×
    a40 composition (VERDICT r11 item 4): the two hash families stack,
    because universe sampling on the key ('us:' md5-60 predicate,
    INDEPENDENT of the sketch's 'kmv:' hash) keeps each distinct key
    with probability exactly 1/U_RATE, so distinct counts — unlike
    under uniform ROW sampling, where distinct does not scale linearly
    — recover as est_distinct(sample) × U_RATE. This is the
    sampled-sketch dashboard an AQP tier serves at 100 TB: the KMV runs
    over 1/U_RATE of the rows (the sample predicate pushes to the
    scan), and the scaled estimate tracks the full-set estimate.

    Per order status: the full-set KMV estimate (a40's), the
    sampled-set KMV estimate and its × U_RATE scale-up, exact
    companions for both sets, and the tracking error. At sf0.001 the
    sampled sketches stay UNDER k (exact branch: samp_est ==
    samp_exact_distinct) while the full-set sketches overflow
    (estimator branch) — both branches oracle-pinned in one result; at
    sf0.01 every sketch overflows. Every number is a pure deterministic
    function of the input set (fixed md5 hashes, no randomness), so
    DuckDB reproduces ALL of it bit-for-bit (a40 contract).

    Scale: both sketch passes ship ≤k longs per (task, status); the
    sampled pass reads 1/U_RATE of the data behind a scan-local hash
    predicate; exact count-distinct companions are the CHECK and are
    droppable at 100 TB."""
    orders = read_table(spark, sf_dir, "orders")
    sample_pred = _md5_60("us:", F.col("o_custkey")) < U_THRESH

    def status_sketch(df, prefix: str) -> DataFrame:
        merged = _kmv_sketch_by(
            df.select(
                F.col("o_orderstatus").alias("status"),
                _kmv_hash(F.col("o_custkey")).alias("h"),
            ),
            "status",
        )
        return merged.select(
            "status",
            F.col("n_hashes").alias(f"{prefix}_n_hashes"),
            _kmv_est().alias(f"{prefix}_est"),
        )

    sampled = orders.where(sample_pred)
    full_sk = status_sketch(orders, "full")
    samp_sk = status_sketch(sampled, "samp")
    exact = orders.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.countDistinct("o_custkey").cast("bigint").alias("exact_distinct")
    )
    samp_exact = sampled.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.countDistinct("o_custkey").cast("bigint").alias("samp_exact_distinct")
    )
    scaled = F.lit(float(U_RATE)) * F.col("samp_est")
    return (
        exact.join(F.broadcast(samp_exact), "status")
        .join(F.broadcast(full_sk), "status")
        .join(F.broadcast(samp_sk), "status")
        .withColumn("scaled_samp_est", scaled)
        .select(
            "status",
            "exact_distinct",
            "samp_exact_distinct",
            "full_n_hashes",
            "full_est",
            "samp_n_hashes",
            "samp_est",
            "scaled_samp_est",
            (
                (F.col("scaled_samp_est") - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
            ).alias("rel_err_vs_exact"),
            (
                (F.col("scaled_samp_est") - F.col("full_est")) / F.col("full_est")
            ).alias("rel_err_vs_full_est"),
        )
    )


A41_ORACLE = f"""
WITH samp AS (
  SELECT * FROM orders
  WHERE ('0x' || substr(md5('us:' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
        < {U_THRESH}
), fh AS (
  SELECT DISTINCT o_orderstatus AS status,
         ('0x' || substr(md5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM orders WHERE o_custkey IS NOT NULL
), sh AS (
  SELECT DISTINCT o_orderstatus AS status,
         ('0x' || substr(md5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM samp
), fsk AS (
  SELECT status, CAST(LEAST(nd, {KMV_K}) AS BIGINT) AS full_n_hashes,
         CASE WHEN nd < {KMV_K} THEN CAST(LEAST(nd, {KMV_K}) AS DOUBLE)
              ELSE CAST({KMV_NUM!r} AS DOUBLE)
                   / CAST(max(CASE WHEN r = {KMV_K} THEN h END) AS DOUBLE)
         END AS full_est
  FROM (
    SELECT status, h,
           row_number() OVER (PARTITION BY status ORDER BY h) AS r,
           count(*) OVER (PARTITION BY status) AS nd
    FROM fh
  ) GROUP BY status, nd
), ssk AS (
  SELECT status, CAST(LEAST(nd, {KMV_K}) AS BIGINT) AS samp_n_hashes,
         CASE WHEN nd < {KMV_K} THEN CAST(LEAST(nd, {KMV_K}) AS DOUBLE)
              ELSE CAST({KMV_NUM!r} AS DOUBLE)
                   / CAST(max(CASE WHEN r = {KMV_K} THEN h END) AS DOUBLE)
         END AS samp_est
  FROM (
    SELECT status, h,
           row_number() OVER (PARTITION BY status ORDER BY h) AS r,
           count(*) OVER (PARTITION BY status) AS nd
    FROM sh
  ) GROUP BY status, nd
), exact AS (
  SELECT o_orderstatus AS status,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
  FROM orders GROUP BY 1
), sexact AS (
  SELECT o_orderstatus AS status,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS samp_exact_distinct
  FROM samp GROUP BY 1
)
SELECT status, exact_distinct, samp_exact_distinct,
       full_n_hashes, full_est, samp_n_hashes, samp_est,
       CAST({U_RATE} AS DOUBLE) * samp_est AS scaled_samp_est,
       (CAST({U_RATE} AS DOUBLE) * samp_est - CAST(exact_distinct AS DOUBLE))
         / CAST(exact_distinct AS DOUBLE) AS rel_err_vs_exact,
       (CAST({U_RATE} AS DOUBLE) * samp_est - full_est) / full_est
         AS rel_err_vs_full_est
FROM exact
JOIN sexact USING (status)
JOIN fsk USING (status)
JOIN ssk USING (status)
"""


#: advisor sizing rule: one shuffle partition per this many result groups
ADVISOR_GROUPS_PER_PART = 64


def q_groupby_cardinality_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q (extension): GROUP-BY cardinality / shuffle-partition ADVISOR —
    the planning table a 100 TB deployment reads BEFORE writing a heavy
    aggregation: for each candidate grouping key-set, how many result
    groups will the shuffle carry, and how many partitions should it
    get? Distinct-group counts come from ONE scan: every row fans out
    (JVM-side explode over an inline struct array, codegen) into one
    (keyset, keystr) pair per candidate, and the KMV kernel sketches
    each key-set's cardinality from the shared stream — six advisors
    for the price of one pass, the way a real stats collector batches
    column-group NDVs (CBO ANALYZE's job, here mergeable + engine-
    reproducible). Small key-sets (status, priority, status|priority)
    stay under k — exact branch; month, month|status and custkey
    overflow — estimator branch; both oracle-pinned in one result.

    recommended_partitions = ceil(est_groups / {ADVISOR_GROUPS_PER_PART})
    in exact double→BIGINT math both engines reproduce bit-for-bit (the
    a40 KMV contract: the estimate is a pure deterministic function of
    the input set).

    Scale: the scan fans out 6× inside codegen but ships only ≤k longs
    per (task, keyset) into the shuffle; the exact count-distinct
    companion is the CHECK and is droppable — at 100 TB the advisor IS
    the cheap pass."""
    orders = read_table(spark, sf_dir, "orders")
    status = F.col("o_orderstatus")
    prio = F.col("o_orderpriority")
    month = F.date_format("o_orderdate", "yyyy-MM")
    cust = F.col("o_custkey").cast("string")
    keysets = [
        ("status", status),
        ("priority", prio),
        ("status|priority", F.concat_ws("|", status, prio)),
        ("month", month),
        ("month|status", F.concat_ws("|", month, status)),
        ("custkey", cust),
    ]
    # r13 (guide §2.3/§2.5, the join-advisor pattern): project + hash-
    # repartition BEFORE the 6x explode so the fan-out leaves the single
    # scan task of the one-row-group file, then pre-aggregate once to a
    # (keyset, keystr) spine whose exchange both branches share —
    # ReuseExchange computes the scan+explode once, and the KMV kernel
    # hashes/ships distinct groups instead of raw rows across the Python
    # boundary (KMV over a set ≡ over its multiset).
    # r14 (ADVICE): gated on scan parallelism — no exchange at scale.
    exploded = (
        spread_scan(
            orders.select("o_orderstatus", "o_orderpriority", "o_orderdate",
                          "o_custkey"),
            F.col("o_custkey"),
            table_path=f"{sf_dir}/orders.parquet",
        )
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("keyset"), expr.alias("keystr")
                        )
                        for name, expr in keysets
                    ]
                )
            ).alias("kv")
        )
        .select("kv.keyset", "kv.keystr")
    )
    spine = exploded.groupBy("keyset", "keystr").agg(
        F.count("*").cast("bigint").alias("c")
    )
    merged = _kmv_sketch_by(
        spine.select(
            "keyset", _md5_60("adv:", F.col("keystr")).alias("h")
        ),
        "keyset",
    )
    # n_rows counts every fan-out row (NULL keystr included, as before);
    # exact_groups counts distinct non-NULL keystr — both pure rollups
    # of the spine, bit-equal to the former count/countDistinct pair
    exact = spine.groupBy("keyset").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count("keystr").cast("bigint").alias("exact_groups"),
    )
    return (
        exact.join(F.broadcast(merged), "keyset")
        .withColumn("est_groups", _kmv_est())
        .select(
            "keyset",
            "n_rows",
            "exact_groups",
            "n_hashes",
            "est_groups",
            (
                (F.col("est_groups") - F.col("exact_groups").cast("double"))
                / F.col("exact_groups").cast("double")
            ).alias("rel_err"),
            F.ceil(
                F.col("est_groups") / F.lit(float(ADVISOR_GROUPS_PER_PART))
            ).cast("bigint").alias("recommended_partitions"),
        )
    )


Q_GROUPBY_ADVISOR_ORACLE = f"""
WITH base AS (
  SELECT o_orderstatus AS status, o_orderpriority AS priority,
         strftime(o_orderdate, '%Y-%m') AS month,
         CAST(o_custkey AS VARCHAR) AS cust
  FROM orders
), exploded AS (
  SELECT 'status' AS keyset, status AS keystr FROM base
  UNION ALL SELECT 'priority', priority FROM base
  UNION ALL SELECT 'status|priority', status || '|' || priority FROM base
  UNION ALL SELECT 'month', month FROM base
  UNION ALL SELECT 'month|status', month || '|' || status FROM base
  UNION ALL SELECT 'custkey', cust FROM base
), h AS (
  SELECT DISTINCT keyset,
         ('0x' || substr(md5('adv:' || keystr), 1, 15))::BIGINT AS h
  FROM exploded WHERE keystr IS NOT NULL
), ranked AS (
  SELECT keyset, h,
         row_number() OVER (PARTITION BY keyset ORDER BY h) AS r,
         count(*) OVER (PARTITION BY keyset) AS nd
  FROM h
), sk AS (
  SELECT keyset,
         CAST(LEAST(nd, {KMV_K}) AS BIGINT) AS n_hashes,
         max(CASE WHEN r = {KMV_K} THEN h END) AS kth
  FROM ranked GROUP BY keyset, nd
), est AS (
  SELECT keyset, n_hashes,
         CASE WHEN n_hashes < {KMV_K} THEN CAST(n_hashes AS DOUBLE)
              ELSE CAST({KMV_NUM!r} AS DOUBLE) / CAST(kth AS DOUBLE)
         END AS est_groups
  FROM sk
), exact AS (
  SELECT keyset, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT keystr) AS BIGINT) AS exact_groups
  FROM exploded GROUP BY 1
)
SELECT keyset, n_rows, exact_groups, n_hashes, est_groups,
       (est_groups - CAST(exact_groups AS DOUBLE))
         / CAST(exact_groups AS DOUBLE) AS rel_err,
       CAST(CEIL(est_groups / CAST({ADVISOR_GROUPS_PER_PART} AS DOUBLE))
            AS BIGINT) AS recommended_partitions
FROM exact JOIN est USING (keyset)
"""


#: join advisor: dim sides at or under this row count get 'broadcast'
JOIN_ADV_BROADCAST_ROWS = 5_000


#: join advisor: target output rows per shuffle partition
JOIN_ADV_ROWS_PER_PART = 10_000


def q_join_cardinality_advisor(
    spark: SparkSession, sf_dir: str, only_edge: str | None = None
) -> DataFrame:
    """Q (extension): JOIN cardinality / strategy ADVISOR — the other
    half of the q_groupby_cardinality_advisor planning table: before a
    100 TB deployment runs a heavy join it wants, per candidate join
    edge, (1) how many distinct keys each side carries, (2) how many of
    them overlap, (3) the expected output cardinality, and (4) the
    physical strategy — broadcast or shuffle — plus a shuffle-partition
    count sized to the estimate. All estimates come from KMV sketches
    (operators/sketches.py): one ≤k-hash blob per (edge, side) built
    from a SINGLE scan of each table (codegen explode fan-out, the
    advisor idiom), then the two side blobs per edge combine JVM-side
    into the union's bottom-k (dd_kmv_source_overlap's set-op idiom), so
    est_overlap = (|in both| / |union-k|) × est_union and the classic
    uniform-multiplicity CBO estimate
    est_join_rows = (n_l / est_keys_l) × (n_r / est_keys_r) × est_overlap.

    Oracle contract (a40 pattern): every estimate is a pure
    deterministic function of the key sets via the fixed md5-60 hash, so
    DuckDB reproduces est_overlap / est_join_rows / the strategy and
    partition recommendations bit-for-bit, next to exact companions
    (countDistinct per side, exact key overlap, and the exact join
    cardinality as sum(cnt_l × cnt_r) — computed WITHOUT running the
    join).

    Scale: the advisor's own inputs are the sketch path (≤k longs per
    (task, edge, side)) plus a pure-codegen conditional row count —
    together they reduce four 100 TB join plans to a KB-sized problem.
    The fan-out stream is hash-repartitioned once on (edge, k) and every
    branch shares that single exchange (r13: the prior plan recomputed
    the 5-table scan+explode 8x through pushed side filters and a
    keycnt L×R self-join). The exact companions (exact_*_keys /
    exact_overlap / exact_join_rows — now ONE (edge, k)-grain aggregate,
    exchange-free on the shared partitioning) are the CHECK and are
    genuinely droppable: no advertised output depends on them."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    part = read_table(spark, sf_dir, "part")
    supp = read_table(spark, sf_dir, "supplier")


    def fan(df: DataFrame, contribs, spread: bool = True) -> DataFrame:
        # project to just the key columns, then hash-repartition on the
        # first of them BEFORE the explode fan-out: a one-row-group
        # parquet table arrives as a single scan task, so without this
        # the 3x explode + casts (and everything up to the first
        # exchange) run on one core (guide §2.5 input skew; the
        # read_corpus idiom). Hash partitioning (not round-robin) so no
        # sortBeforeRepartition pass; the shuffle carries only the raw
        # key columns, cheaper than the exploded stream it replaces.
        # r14: only the two FACT tables spread — the r13 'not yet
        # optimized' item, A/B'd: the dim-table exchanges cost more than
        # the one-task explode they parallelize (2.5-2.8 → 2.4 s), and
        # spread_scan additionally gates on scan parallelism (ADVICE) so
        # nothing shuffles at 100 TB scale.
        names = sorted({c[2] for c in contribs})
        src = df.select(*names)
        if spread:
            src = spread_scan(src, F.col(names[0]))
        return src.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(e).alias("edge"),
                            F.lit(s).alias("side"),
                            F.col(col).cast("string").alias("k"),
                        )
                        for e, s, col in contribs
                    ]
                )
            ).alias("c")
        ).select("c.edge", "c.side", "c.k")

    # every output row is a pure per-edge computation, so restricting the
    # stream to one edge (``only_edge`` — j19's seam needs only its own
    # edge's advice) yields bit-identical rows for that edge while
    # skipping the scans of uninvolved tables entirely
    table_contribs = [
        (li, True, [
            ("lineitem_part", "L", "l_partkey"),
            ("lineitem_supplier", "L", "l_suppkey"),
            ("lineitem_orders", "L", "l_orderkey"),
        ]),
        (orders, True, [
            ("orders_customer", "L", "o_custkey"),
            ("lineitem_orders", "R", "o_orderkey"),
        ]),
        (cust, False, [("orders_customer", "R", "c_custkey")]),
        (part, False, [("lineitem_part", "R", "p_partkey")]),
        (supp, False, [("lineitem_supplier", "R", "s_suppkey")]),
    ]
    stream = None
    for df, spread, contribs in table_contribs:
        if only_edge is not None:
            contribs = [c for c in contribs if c[0] == only_edge]
        if not contribs:
            continue
        piece = fan(df, contribs, spread=spread)
        stream = piece if stream is None else stream.unionByName(piece)
    # NULL keys never survive an inner equi-join (Catalyst pushes
    # IsNotNull on both sides), so the advisor streams exclude them:
    # n_rows/est/exact then describe the rows the advised join will
    # actually shuffle (r13 null-bucket sweep)
    stream = stream.where(F.col("k").isNotNull())
    # ONE (edge, k)-grain rollup with the two sides pivoted into columns
    # (r13, guide §2.3/§2.4): map-side partial aggregation + a single
    # exchange at key grain, MATERIALIZED ONCE with localCheckpoint. The
    # first r13 cut hung every consumer off a shared (edge, side, k)
    # spine expecting ReuseExchange to compute it once — measured, it
    # never fires here (each consumer prunes/pivots the subtree
    # differently, so the canonical exchanges differ: the executed plan
    # carried 40 parquet scans and 0 ReusedExchange, the spine subtree
    # re-ran 3-4x and the isolated median stayed ~6.6s). localCheckpoint
    # makes the sharing explicit: the 5-table scan+explode+rollup runs
    # exactly once per invocation (inside the timed window — nothing
    # survives the query), and the consumers below read the materialized
    # blocks (guide §3.3: materialising an intermediate truncates the
    # plan). At 100 TB, if the exact companions are dropped, this rollup
    # drops with them and the KMV kernel goes back to eating the raw
    # stream with its ≤k-per-(task, key) partials and no key-grain
    # shuffle at all.
    kk = (
        stream.groupBy("edge", "k")
        .agg(
            F.sum(F.when(F.col("side") == "L", 1).otherwise(0))
            .cast("bigint")
            .alias("cl"),
            F.sum(F.when(F.col("side") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("cr"),
        )
        .localCheckpoint()
    )
    # edge-grain stats in ONE aggregate over the rollup: the row counts
    # feed the ADVERTISED outputs (est_join_rows, strategy, partition
    # sizing) and the exact companions (the CHECK, droppable at scale)
    # fall out of the SAME rows (cl·cr is 0 whenever a key misses either
    # side). sum(cl where cl>0) keeps the pre-r13 NULL-on-empty-side
    # semantics of sum(when(side='L', c)).
    edge_stats = kk.groupBy("edge").agg(
        F.sum(F.when(F.col("cl") > 0, F.col("cl")))
        .cast("bigint")
        .alias("n_left_rows"),
        F.sum(F.when(F.col("cr") > 0, F.col("cr")))
        .cast("bigint")
        .alias("n_right_rows"),
        F.sum(F.when(F.col("cl") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("exact_left_keys"),
        F.sum(F.when(F.col("cr") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("exact_right_keys"),
        F.sum(F.when((F.col("cl") > 0) & (F.col("cr") > 0), 1).otherwise(0))
        .cast("bigint")
        .alias("exact_overlap"),
        F.sum(F.col("cl") * F.col("cr")).cast("bigint").alias("exact_join_rows"),
    )
    # per-side distinct keys for the KMV kernel, re-derived from the
    # rollup (KMV over a set ≡ over its multiset, so the distinct
    # (edge, side, k) rows the old spine fed it are reproduced
    # bit-identically); the merged blobs come back ≤2 rows per edge and
    # are checkpointed so the two consumers below (per_edge_est, the
    # blob explode) don't re-run the Python kernel chain.
    side_keys = kk.select(
        "edge",
        F.explode(
            F.filter(
                F.array(
                    F.when(F.col("cl") > 0, F.lit("L")),
                    F.when(F.col("cr") > 0, F.lit("R")),
                ),
                lambda s: s.isNotNull(),
            )
        ).alias("side"),
        "k",
    )
    merged = (
        _kmv_sketch_by(
            side_keys.select(
                F.concat_ws("/", "edge", "side").alias("grp"),
                _md5_60("jn:", F.col("k")).alias("h"),
            ),
            "grp",
        )
        .withColumn("edge", F.split("grp", "/")[0])
        .withColumn("side", F.split("grp", "/")[1])
        .localCheckpoint()
    )
    # pivot the per-(edge, side) estimates to edge grain instead of
    # filtering side_stats into two joined copies — the former pushed a
    # side=L / side=R filter below every subtree and doubled the work
    per_edge_est = merged.groupBy("edge").agg(
        F.max(
            F.when(F.col("side") == "L", _kmv_est())
        ).alias("est_left_keys"),
        F.max(
            F.when(F.col("side") == "R", _kmv_est())
        ).alias("est_right_keys"),
    )
    # the two side blobs per edge -> the union's bottom-k (dd_kmv idiom)
    blob_h = merged.select(
        "edge",
        "side",
        F.explode(F.from_json("payload", "array<bigint>")).alias("h"),
    )
    u = blob_h.groupBy("edge", "h").agg(
        F.max(F.when(F.col("side") == "L", 1).otherwise(0)).alias("in_l"),
        F.max(F.when(F.col("side") == "R", 1).otherwise(0)).alias("in_r"),
    )
    wp = W.partitionBy("edge").orderBy("h")
    usk = (
        u.withColumn("r", F.row_number().over(wp))
        .where(F.col("r") <= KMV_K)
        .groupBy("edge")
        .agg(
            F.count("*").cast("bigint").alias("n_union_k"),
            F.max("h").alias("kth_u"),
            F.sum(F.col("in_l") * F.col("in_r"))
            .cast("bigint")
            .alias("n_both_k"),
        )
    )
    est_union = F.when(
        F.col("n_union_k") < KMV_K, F.col("n_union_k").cast("double")
    ).otherwise(F.lit(KMV_NUM) / F.col("kth_u").cast("double"))
    return (
        edge_stats.join(F.broadcast(per_edge_est), "edge")
        .join(F.broadcast(usk), "edge")
        .withColumn(
            "est_overlap",
            (
                F.col("n_both_k").cast("double")
                / F.col("n_union_k").cast("double")
            )
            * est_union,
        )
        .withColumn(
            "est_join_rows",
            (F.col("n_left_rows").cast("double") / F.col("est_left_keys"))
            * (F.col("n_right_rows").cast("double") / F.col("est_right_keys"))
            * F.col("est_overlap"),
        )
        .withColumn(
            "join_rel_err",
            F.when(
                F.col("exact_join_rows") > 0,
                (
                    F.col("est_join_rows")
                    - F.col("exact_join_rows").cast("double")
                )
                / F.col("exact_join_rows").cast("double"),
            ),
        )
        .withColumn(
            "strategy",
            F.when(
                F.col("n_right_rows") <= JOIN_ADV_BROADCAST_ROWS,
                F.lit("broadcast"),
            ).otherwise(F.lit("shuffle")),
        )
        .withColumn(
            "recommended_partitions",
            F.greatest(
                F.lit(1).cast("bigint"),
                F.ceil(
                    F.col("est_join_rows")
                    / F.lit(float(JOIN_ADV_ROWS_PER_PART))
                ).cast("bigint"),
            ),
        )
        .select(
            "edge",
            "n_left_rows",
            "n_right_rows",
            "exact_left_keys",
            "est_left_keys",
            "exact_right_keys",
            "est_right_keys",
            "exact_overlap",
            "est_overlap",
            "exact_join_rows",
            "est_join_rows",
            "join_rel_err",
            "strategy",
            "recommended_partitions",
        )
    )


Q_JOIN_ADVISOR_ORACLE = f"""
WITH stream0 AS (
  SELECT 'lineitem_part' AS edge, 'L' AS side,
         CAST(l_partkey AS VARCHAR) AS k FROM lineitem
  UNION ALL SELECT 'lineitem_supplier', 'L', CAST(l_suppkey AS VARCHAR)
    FROM lineitem
  UNION ALL SELECT 'lineitem_orders', 'L', CAST(l_orderkey AS VARCHAR)
    FROM lineitem
  UNION ALL SELECT 'orders_customer', 'L', CAST(o_custkey AS VARCHAR)
    FROM orders
  UNION ALL SELECT 'lineitem_orders', 'R', CAST(o_orderkey AS VARCHAR)
    FROM orders
  UNION ALL SELECT 'orders_customer', 'R', CAST(c_custkey AS VARCHAR)
    FROM customer
  UNION ALL SELECT 'lineitem_part', 'R', CAST(p_partkey AS VARCHAR)
    FROM part
  UNION ALL SELECT 'lineitem_supplier', 'R', CAST(s_suppkey AS VARCHAR)
    FROM supplier
), stream AS (
  SELECT * FROM stream0 WHERE k IS NOT NULL
), counts AS (
  SELECT edge, side, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT k) AS BIGINT) AS exact_keys
  FROM stream GROUP BY 1, 2
), hashed AS (
  SELECT DISTINCT edge, side,
         ('0x' || substr(md5('jn:' || k), 1, 15))::BIGINT AS h
  FROM stream
), rk AS (
  SELECT edge, side, h,
         row_number() OVER (PARTITION BY edge, side ORDER BY h) AS r,
         count(*) OVER (PARTITION BY edge, side) AS nd
  FROM hashed
), sk AS (
  SELECT edge, side, CAST(LEAST(nd, {KMV_K}) AS BIGINT) AS n_hashes,
         max(CASE WHEN r = {KMV_K} THEN h END) AS kth
  FROM rk GROUP BY edge, side, nd
), est AS (
  SELECT edge, side,
         CASE WHEN n_hashes < {KMV_K} THEN CAST(n_hashes AS DOUBLE)
              ELSE CAST({KMV_NUM!r} AS DOUBLE) / CAST(kth AS DOUBLE)
         END AS est_keys
  FROM sk
), bk AS (
  SELECT edge, side, h FROM rk WHERE r <= {KMV_K}
), u AS (
  SELECT edge, h,
         max(CASE WHEN side = 'L' THEN 1 ELSE 0 END) AS in_l,
         max(CASE WHEN side = 'R' THEN 1 ELSE 0 END) AS in_r
  FROM bk GROUP BY 1, 2
), ru AS (
  SELECT *, row_number() OVER (PARTITION BY edge ORDER BY h) AS r FROM u
), usk AS (
  SELECT edge, CAST(count(*) AS BIGINT) AS n_union_k, max(h) AS kth_u,
         CAST(sum(in_l * in_r) AS BIGINT) AS n_both_k
  FROM ru WHERE r <= {KMV_K} GROUP BY 1
), keycnt AS (
  SELECT edge, side, k, CAST(count(*) AS BIGINT) AS c
  FROM stream GROUP BY 1, 2, 3
), ex AS (
  SELECT l.edge,
         CAST(count(*) AS BIGINT) AS exact_overlap,
         CAST(sum(l.c * r.c) AS BIGINT) AS exact_join_rows
  FROM keycnt l JOIN keycnt r
    ON l.edge = r.edge AND l.k = r.k AND l.side = 'L' AND r.side = 'R'
  GROUP BY 1
), sides AS (
  SELECT c1.edge,
         c1.n_rows AS n_left_rows, c1.exact_keys AS exact_left_keys,
         e1.est_keys AS est_left_keys,
         c2.n_rows AS n_right_rows, c2.exact_keys AS exact_right_keys,
         e2.est_keys AS est_right_keys
  FROM counts c1, counts c2, est e1, est e2
  WHERE c1.edge = c2.edge AND e1.edge = c1.edge AND e2.edge = c1.edge
    AND c1.side = 'L' AND c2.side = 'R' AND e1.side = 'L' AND e2.side = 'R'
), assembled AS (
  SELECT s.*,
         CAST(coalesce(x.exact_overlap, 0) AS BIGINT) AS exact_overlap,
         CAST(coalesce(x.exact_join_rows, 0) AS BIGINT) AS exact_join_rows,
         (CAST(u2.n_both_k AS DOUBLE) / CAST(u2.n_union_k AS DOUBLE))
           * (CASE WHEN u2.n_union_k < {KMV_K}
                   THEN CAST(u2.n_union_k AS DOUBLE)
                   ELSE CAST({KMV_NUM!r} AS DOUBLE) / CAST(u2.kth_u AS DOUBLE)
              END) AS est_overlap
  FROM sides s
  JOIN usk u2 ON u2.edge = s.edge
  LEFT JOIN ex x ON x.edge = s.edge
), final AS (
  SELECT *,
         (CAST(n_left_rows AS DOUBLE) / est_left_keys)
           * (CAST(n_right_rows AS DOUBLE) / est_right_keys)
           * est_overlap AS est_join_rows
  FROM assembled
)
SELECT edge, n_left_rows, n_right_rows, exact_left_keys, est_left_keys,
       exact_right_keys, est_right_keys, exact_overlap, est_overlap,
       exact_join_rows, est_join_rows,
       CASE WHEN exact_join_rows > 0
            THEN (est_join_rows - CAST(exact_join_rows AS DOUBLE))
                 / CAST(exact_join_rows AS DOUBLE)
       END AS join_rel_err,
       CASE WHEN n_right_rows <= {JOIN_ADV_BROADCAST_ROWS}
            THEN 'broadcast' ELSE 'shuffle' END AS strategy,
       GREATEST(CAST(1 AS BIGINT),
                CAST(CEIL(est_join_rows
                          / CAST({JOIN_ADV_ROWS_PER_PART} AS DOUBLE))
                     AS BIGINT)) AS recommended_partitions
FROM final
"""


def j19_advised_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J19 (extension): ADVISED join — closes the advisor loop (VERDICT
    r12 item 3): the q_join_cardinality_advisor planning table's
    orders_customer row is collected (4 rows — a bounded driver action,
    the centroid pattern) and handed to operators/joins.py::advised_join,
    which applies the recommended PHYSICAL strategy: broadcast-hash when
    n_right_rows clears the row threshold, else a forced shuffled
    sort-merge join (the advisor's partition-count half is the separate
    advised_shuffle_partitions conf seam — Spark has no per-join
    shuffle-partitioning knob; see advised_join's docstring for the
    EnsureRequirements evidence). The per-segment revenue aggregate over
    the advised join is oracle-checked against a PLAIN SQL join, proving
    the advice changes only the physical plan, never the semantics; the
    strategy/partition columns pin WHICH plan was driven (broadcast at
    sf0.01's 1.5k customers, shuffle at sf0.1's 15k — the cross-SF
    sweeps exercise both seam branches).

    Plan contract (asserted in tests/test_plans.py): broadcast advice →
    BroadcastHashJoin; shuffle advice → SortMergeJoin with no broadcast
    even when byte-size stats would auto-broadcast.

    Scale: this is the ANALYZE-driven plan-choice wiring of a production
    deployment — the advisor inputs are KB-sized sketches, the decision
    is a driver-side scalar, and the joined fact never moves when the dim
    side broadcasts. Reference analogue: the hand-tuned broadcast
    threshold at fact_flights.py:36-61, decided here by measured
    cardinality instead of a constant."""
    adv = {
        r["edge"]: r.asDict()
        for r in q_join_cardinality_advisor(
            spark, sf_dir, only_edge="orders_customer"
        ).collect()
    }["orders_customer"]
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    from us_dot_flights_lakehouse_spark.operators.joins import advised_join

    joined = advised_join(orders, cust, ["o_custkey"], ["c_custkey"], adv)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            dec_sum("o_totalprice", "total_revenue"),
        )
        .withColumn("strategy", F.lit(adv["strategy"]))
        .withColumn(
            "recommended_partitions",
            F.lit(int(adv["recommended_partitions"])).cast("bigint"),
        )
    )


J19_ORACLE = f"""
WITH adv AS ({Q_JOIN_ADVISOR_ORACLE}),
edge AS (
  SELECT strategy, recommended_partitions
  FROM adv WHERE edge = 'orders_customer'
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
         AS total_revenue,
       edge.strategy,
       edge.recommended_partitions
FROM orders
JOIN customer ON o_custkey = c_custkey
CROSS JOIN edge
GROUP BY c_mktsegment, edge.strategy, edge.recommended_partitions
"""


#: fact-side key multiplicity above which a single hash partition would
#: exceed a healthy task (the j18/salting regime); mirrors the
#: JOIN_ADV_ROWS_PER_PART sizing philosophy but thresholds PER KEY —
#: AQE's skew split cannot subdivide ONE key's rows, only salting can
SKEW_SALT_THRESHOLD = 5_000
#: advisor rows per edge: enough to show both verdicts (hot head + tail)
SKEW_ADV_TOPK = 10


def q_join_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q (extension): JOIN-KEY SKEW ADVISOR — the third planning table
    (after the group-by and join cardinality advisors, r12) and the
    detection half of the round-13 skew-stress gate: BEFORE a 100 TB
    join runs, find the fact-side keys hot enough that one hash
    partition would straggle, and recommend the mitigation. AQE's skew
    split subdivides a partition by MAPPER blocks, so it can spread many
    unlucky keys but never ONE mega-key's rows for the build side —
    that regime needs salting (operators/joins.py::salted_join), and
    knowing which regime you are in requires exactly this table.

    Scale path: per-task Misra-Gries partials (mapInPandas, cap-bounded
    counter blobs) merged per edge — heavy hitters from one scan with
    ≤MG_CAP counters shuffled per task, never raw rows. The exact
    groupBy(key) multiplicities are the CHECK companion (droppable at
    100 TB; at scale the verdict thresholds on est+d, the MG upper
    bound). mg_ok pins the sketch bound per emitted key (a39 contract).

    Key skew is engineered (TPC-H keys are uniform — the adversarial
    no-skew case): ~half the rows (l_quantity <= 25) fold onto key 0 —
    the one-mega-key zipf head the r13 skew-stress clone models —
    mirrored verbatim in the oracle, so at sf0.01 the driver compare
    exercises BOTH verdicts: rank 1 'salt' (with its salt count), tail
    ranks 'none'.

    Reference parity: no skew detection exists in the reference; its
    skew posture is the fixed broadcast threshold
    (fact_flights.py:36-61). This extends the advisor tier the way a39
    extends profiling."""
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        make_mg_merger,
        make_mg_partial_builder,
    )

    lineitem = read_table(spark, sf_dir, "lineitem")
    key = (
        F.when(F.col("l_quantity") <= 25, F.lit(0))
        .otherwise(F.col("l_suppkey"))
        .cast("bigint")
    )
    # NULL keys are pruned like the join itself prunes them (inner
    # equi-join IsNotNull pushdown): the null bucket is j13's null-safe
    # territory, not join-skew (r13 null-bucket sweep)
    vals = lineitem.select(
        F.lit("lineitem_supplier").alias("edge"), key.alias("key")
    ).where(F.col("key").isNotNull())
    partials = vals.mapInPandas(
        make_mg_partial_builder("edge", "key", MG_CAP),
        schema="edge string, counters string, d long, n_rows long",
    )
    merged = partials.groupBy("edge").applyInPandas(
        make_mg_merger("edge", MG_CAP),
        schema="edge string, counters string, d long, n_rows long",
    )
    est_side = merged.select(
        "edge",
        F.from_json("counters", "map<string,bigint>").alias("cmap"),
        "d",
        "n_rows",
    )
    exact = vals.groupBy("edge", "key").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    wtop = W.partitionBy("edge").orderBy(F.col("cnt").desc(), F.col("key"))
    top = exact.select(
        "edge", "key", "cnt", F.row_number().over(wtop).alias("rank")
    ).where(F.col("rank") <= SKEW_ADV_TOPK)
    est = F.coalesce(
        F.try_element_at("cmap", F.col("key").cast("string")), F.lit(0)
    )
    return (
        top.join(F.broadcast(est_side), "edge")
        .select(
            "edge",
            "rank",
            "key",
            "cnt",
            (F.col("cnt").cast("double") / F.col("n_rows").cast("double")).alias(
                "share"
            ),
            ((est <= F.col("cnt")) & (est >= F.col("cnt") - F.col("d"))).alias(
                "mg_ok"
            ),
            F.when(F.col("cnt") > SKEW_SALT_THRESHOLD, F.lit("salt"))
            .otherwise(F.lit("none"))
            .alias("mitigation"),
            F.greatest(
                F.lit(1).cast("bigint"),
                F.ceil(
                    F.col("cnt").cast("double") / F.lit(float(SKEW_SALT_THRESHOLD))
                ).cast("bigint"),
            ).alias("salts"),
        )
    )


Q_JOIN_SKEW_ADVISOR_ORACLE = f"""
WITH vals AS (
  SELECT edge, key FROM (
    SELECT 'lineitem_supplier' AS edge,
           CAST(CASE WHEN l_quantity <= 25 THEN 0
                ELSE l_suppkey END AS BIGINT) AS key
    FROM lineitem
  ) WHERE key IS NOT NULL
), exact AS (
  SELECT edge, key, CAST(count(*) AS BIGINT) AS cnt
  FROM vals GROUP BY 1, 2
), totals AS (
  SELECT edge, CAST(sum(cnt) AS BIGINT) AS n_rows FROM exact GROUP BY 1
), ranked AS (
  SELECT edge, key, cnt,
         row_number() OVER (PARTITION BY edge ORDER BY cnt DESC, key) AS rank
  FROM exact
)
SELECT r.edge, CAST(rank AS INTEGER) AS rank, key, cnt,
       CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE) AS share,
       TRUE AS mg_ok,
       CASE WHEN cnt > {SKEW_SALT_THRESHOLD} THEN 'salt' ELSE 'none' END
         AS mitigation,
       GREATEST(CAST(1 AS BIGINT),
                CAST(CEIL(CAST(cnt AS DOUBLE)
                          / CAST({SKEW_SALT_THRESHOLD} AS DOUBLE)) AS BIGINT))
         AS salts
FROM ranked r JOIN totals t ON r.edge = t.edge
WHERE rank <= {SKEW_ADV_TOPK}
"""


def j20_skew_advised_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J20 (extension): SKEW-ADVISED join — q_join_skew_advisor's
    verdict DRIVES the physical mitigation (j19's pattern for the skew
    axis): the fact side's top key multiplicity (1 row — a bounded
    driver action) decides between a plain equi-join (uniform keys: AQE
    alone is enough) and operators/joins.py::salted_join at the advised
    salt count (a mega-key: salting is the only mitigation that
    subdivides ONE key's rows). The per-nation revenue aggregate is
    oracle-checked against a plain SQL join, proving the mitigation
    changes only the physical layout, never the semantics; the
    mitigation/salts columns pin WHICH plan ran.

    On the uniform driver tables the verdict is 'none' (plain branch);
    the round-13 skew-stress clone (tools/skew_stress.py — hot
    l_suppkey holding ~30% of rows) trips the 'salt' branch in the
    standing sweep, and the unit test plants a mega-key to pin the
    salted branch's value-equality directly. The decision thresholds on
    the exact top-1 multiplicity (the advisor's CHECK column) so both
    engines reproduce it bit-for-bit; at 100 TB the same decision reads
    the MG estimate + d upper bound instead of the exact pass."""
    from us_dot_flights_lakehouse_spark.operators.joins import skew_advised_join

    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    top1 = (
        li.where(F.col("l_suppkey").isNotNull())
        .groupBy("l_suppkey")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .agg(F.max("cnt").alias("mx"))
        .collect()[0]["mx"]
    )
    advice = {
        "mitigation": "salt" if top1 > SKEW_SALT_THRESHOLD else "none",
        "salts": max(1, -(-top1 // SKEW_SALT_THRESHOLD)),
    }
    joined = skew_advised_join(li, supp, "l_suppkey", "s_suppkey", advice)
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            dec_sum("l_extendedprice", "revenue"),
        )
        .withColumn("mitigation", F.lit(advice["mitigation"]))
        .withColumn("salts", F.lit(int(advice["salts"])).cast("bigint"))
    )


J20_ORACLE = f"""
WITH top1 AS (
  SELECT max(cnt) AS mx FROM (
    SELECT CAST(count(*) AS BIGINT) AS cnt FROM lineitem
    WHERE l_suppkey IS NOT NULL GROUP BY l_suppkey
  )
), adv AS (
  SELECT CASE WHEN mx > {SKEW_SALT_THRESHOLD} THEN 'salt' ELSE 'none' END
           AS mitigation,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(CEIL(CAST(mx AS DOUBLE)
                            / CAST({SKEW_SALT_THRESHOLD} AS DOUBLE))
                       AS BIGINT)) AS salts
  FROM top1
)
SELECT s_nationkey,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
       adv.mitigation, adv.salts
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
CROSS JOIN adv
GROUP BY s_nationkey, adv.mitigation, adv.salts
"""


def a42_advised_mart_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A42 (extension): ADVISED mart layout — the group-by advisor's
    recommendation driving a physical plan (j19's pattern for the
    aggregation/write axis): the q_groupby_cardinality_advisor row for
    the month|status key-set (6 rows — a bounded driver action) sizes
    the keyed pre-write repartition of the monthly status mart, so the
    mart's file count tracks its MEASURED group cardinality instead of
    a hand-tuned constant — the anti-small-files seam (X2) a 100 TB
    mart writer actually needs, with ANALYZE-style stats deciding the
    number. The aggregation itself keeps its partial→final shape (the
    advised exchange sits ABOVE the final aggregate, where the X2
    pre-write repartition lives — never below it, which would ship raw
    rows unaggregated).

    Oracle contract: the aggregate values are plain SQL; the stamped
    est_groups / advised_partitions columns recompute in DuckDB through
    the advisor's own oracle (bit-equal KMV estimate — the a40
    contract), so a drift in the advice itself hash-fails this query
    too. Plan contract (tests/test_plans.py): the top exchange is
    REPARTITION_BY_NUM at the advised count over a partial+final
    aggregate."""
    adv = {
        r["keyset"]: r.asDict()
        for r in q_groupby_cardinality_advisor(spark, sf_dir).collect()
    }["month|status"]
    n = int(adv["recommended_partitions"])
    orders = read_table(spark, sf_dir, "orders")
    agg = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.col("o_orderstatus").alias("status"),
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        dec_sum("o_totalprice", "revenue"),
    )
    return (
        agg.repartition(n, F.col("month"), F.col("status"))
        .withColumn("est_groups", F.lit(float(adv["est_groups"])))
        .withColumn("advised_partitions", F.lit(n).cast("bigint"))
    )


A42_ORACLE = f"""
WITH adv AS ({Q_GROUPBY_ADVISOR_ORACLE}),
pick AS (
  SELECT est_groups, recommended_partitions
  FROM adv WHERE keyset = 'month|status'
)
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
       pick.est_groups,
       pick.recommended_partitions AS advised_partitions
FROM orders CROSS JOIN pick
GROUP BY 1, 2, pick.est_groups, pick.recommended_partitions
"""


#: number of range buckets the layout advisor plans (one output file per
#: bucket in the x13 layout; at 100 TB this is files-per-partition)
RANGE_BUCKETS = 8


def _exact_cut_points(
    spark: SparkSession, vals: DataFrame, fracs: list[float]
) -> DataFrame:
    """Exact interpolated percentiles by DISTRIBUTED SORT + rank
    selection, returned as the same 1-row (cuts array<double>, n_total)
    relation the old ``agg(percentile(...))`` produced — bit-identical
    values (pinned by test and by the unchanged DuckDB oracle).

    Why (r13, guide §1.1 first-principles): ``percentile`` is a
    TypedImperativeAggregate that buffers EVERY value into a per-task
    hash map and then merges all maps on one final task — at sf0.1
    that single-threaded merge of ~583k near-unique doubles was 2.4 s,
    and at 100 TB the whole-column buffer is simply infeasible. The
    selection formulation does one range exchange + parallel local
    sorts, then touches only the ≤2·|fracs| rows that straddle the
    target ranks:

    - ``orderBy(v)`` range-partitions + locally sorts (parallel);
      ``monotonically_increasing_id`` encodes (partition, local row).
    - per-partition counts (≤ one row per task — a bounded driver
      action, the centroid pattern) give exact global rank offsets.
    - the ≤2·|fracs| straddling rows are fetched by id (bounded), and
      Spark's own interpolation ``lo*(hi-pos) + hi*(pos-lo)`` runs on
      IEEE doubles in Python — the same op order both engines use, so
      the bits match (verified against percentile() and quantile_cont).

    Sampling in the range partitioner makes the PARTITIONING
    nondeterministic, but rank selection over the sorted multiset is a
    pure function of the input — the r12 row-order/input-split sweeps'
    property."""
    import math

    s = (
        vals.orderBy("v")
        .select("v", F.monotonically_increasing_id().alias("mid"))
        .localCheckpoint()
    )
    # mid = partition_id << 33 | local_row — per-partition counts give
    # exact global offsets; one row per task, a bounded collect
    cnts = dict(
        s.groupBy(F.shiftright("mid", 33).alias("pid")).count().collect()
    )
    n_total = sum(cnts.values())
    if n_total == 0:
        return spark.createDataFrame(
            [([None] * len(fracs), 0)], "cuts array<double>, n_total bigint"
        )
    offs, off = {}, 0
    for pid in sorted(cnts):
        offs[pid] = off
        off += cnts[pid]

    def _mid_for(rank: int) -> int:
        for pid in sorted(cnts):
            if rank < offs[pid] + cnts[pid]:
                return (pid << 33) + (rank - offs[pid])
        raise IndexError(rank)

    need: set[int] = set()
    for p in fracs:
        pos = p * (n_total - 1)
        need.add(math.floor(pos))
        need.add(math.ceil(pos))
    mids = {r: _mid_for(r) for r in need}
    got = {
        row["mid"]: row["v"]
        for row in s.where(F.col("mid").isin(list(mids.values()))).collect()
    }
    by_rank = {r: got[m] for r, m in mids.items()}
    cut_vals = []
    for p in fracs:
        pos = p * (n_total - 1)
        lo, hi = math.floor(pos), math.ceil(pos)
        v_lo, v_hi = by_rank[lo], by_rank[hi]
        cut_vals.append(
            v_lo if lo == hi else v_lo * (hi - pos) + v_hi * (pos - lo)
        )
    return spark.createDataFrame(
        [(cut_vals, n_total)], "cuts array<double>, n_total bigint"
    )


def q_range_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q (extension): RANGE-partition / sort-layout ADVISOR — the fourth
    planning table (groupby count, join strategy, key skew, and now
    RANGE LAYOUT): before writing a sorted mart, compute the cut points
    that split the sort key into RANGE_BUCKETS equal-row buckets and the
    balance each bucket would get. Cut points are exact interpolated
    percentiles (a11's contract — bit-identical to Spark ``percentile``
    and DuckDB ``quantile_cont``), computed by distributed sort + rank
    selection (``_exact_cut_points`` — r13: the percentile aggregate
    buffered the whole column into one final task's merge) and broadcast
    back over the scan as a 1-row relation; per-bucket counts come from
    the same monotone bucket assignment the x13 layout applies, so the
    table describes EXACTLY what the layout will write.

    Scale: one sort pass + rank-bounded selection for the cuts + one
    full-codegen aggregate pass for the histogram; at 100 TB the cut
    points come instead from a38's mergeable KLL blobs (rank error
    bounds proven there) — the exact-selection pass here doubles as
    that path's CHECK. Spark's own
    repartitionByRange is NOT the seam: it samples, so its boundaries
    are nondeterministic run to run (range_layout's docstring).

    Reference parity: no layout planning exists in the reference (its
    marts are written with default layout); extends the physical tier
    (X7 Z-order, x10 partition pruning) with stats-driven planning."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    vals = lineitem.select(F.col("l_extendedprice").alias("v")).where(
        F.col("v").isNotNull()
    )
    fracs = [i / RANGE_BUCKETS for i in range(1, RANGE_BUCKETS)]
    # r13 take 2 (guide §1.1 / §5): cut points AND the per-bucket rollup
    # are both pure functions of the value → count histogram, so below
    # the cap ONE full-codegen histogram aggregate + cap-bounded driver
    # rank selection (operators/quantiles.py — the formula
    # _exact_cut_points already pinned) produce the whole advisor table
    # as a local relation: no sort pass, no second scan. Over the cap
    # the sort+rank selection and the distributed rollup run unchanged.
    tbl = collect_value_histogram(vals, [], ["v"])
    if tbl is not None:
        import numpy as np

        rows = []
        for _, vv, cc, _n in histogram_groups(tbl, [], "v"):
            cuts = percentiles_from_counts(vv, cc, fracs)
            n_total = int(cc.sum())
            # 1 + (v > cut_i per cut) == 1 + count(cuts < v)
            bucket = 1 + np.searchsorted(
                np.asarray(cuts, dtype="float64"), vv, side="left"
            )
            for b in np.unique(bucket):
                b = int(b)
                n_rows = int(cc[bucket == b].sum())
                rows.append(
                    (
                        b,
                        cuts[b - 2] if b > 1 else None,
                        cuts[b - 1] if b < RANGE_BUCKETS else None,
                        n_rows,
                        n_rows / n_total,
                    )
                )
        return spark.createDataFrame(
            rows,
            "bucket int, lo_price double, hi_price double, "
            "n_rows bigint, share double",
        )
    cuts = _exact_cut_points(spark, vals, fracs)
    bucket = F.lit(1)
    for i in range(RANGE_BUCKETS - 1):
        bucket = bucket + (F.col("v") > F.col("cuts")[i]).cast("int")
    hist = (
        vals.crossJoin(F.broadcast(cuts))
        .select(bucket.alias("bucket"), "n_total", "cuts")
        .groupBy("bucket", "n_total", "cuts")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )
    lo = F.when(F.col("bucket") > 1, F.col("cuts")[F.col("bucket") - 2])
    hi = F.when(
        F.col("bucket") < RANGE_BUCKETS, F.col("cuts")[F.col("bucket") - 1]
    )
    return hist.select(
        F.col("bucket").cast("int").alias("bucket"),
        lo.alias("lo_price"),
        hi.alias("hi_price"),
        "n_rows",
        (F.col("n_rows").cast("double") / F.col("n_total").cast("double")).alias(
            "share"
        ),
    )


_RANGE_CUT_SQL = ", ".join(
    f"quantile_cont(l_extendedprice, {i}.0/{RANGE_BUCKETS}) AS c{i}"
    for i in range(1, RANGE_BUCKETS)
)
_RANGE_BUCKET_SQL = "1 " + " ".join(
    f"+ CASE WHEN v > c{i} THEN 1 ELSE 0 END" for i in range(1, RANGE_BUCKETS)
)
_RANGE_LO_SQL = "CASE " + " ".join(
    f"WHEN bucket = {b} THEN c{b - 1}" for b in range(2, RANGE_BUCKETS + 1)
) + " END"
_RANGE_HI_SQL = "CASE " + " ".join(
    f"WHEN bucket = {b} THEN c{b}" for b in range(1, RANGE_BUCKETS)
) + " END"

Q_RANGE_ADVISOR_ORACLE = f"""
WITH cuts AS (
  SELECT {_RANGE_CUT_SQL}, CAST(count(*) AS BIGINT) AS n_total
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), b AS (
  SELECT ({_RANGE_BUCKET_SQL}) AS bucket, n_total
  FROM (SELECT l_extendedprice AS v FROM lineitem
        WHERE l_extendedprice IS NOT NULL) CROSS JOIN cuts
), hist AS (
  SELECT bucket, n_total, CAST(count(*) AS BIGINT) AS n_rows
  FROM b GROUP BY 1, 2
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       ({_RANGE_LO_SQL}) AS lo_price,
       ({_RANGE_HI_SQL}) AS hi_price,
       n_rows,
       CAST(n_rows AS DOUBLE) / CAST(hist.n_total AS DOUBLE) AS share
FROM hist CROSS JOIN cuts
"""


def x13_advised_range_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13 (extension): ADVISED range layout — q_range_partition_advisor's
    cut points DRIVE the physical layout through
    operators/physical.py::range_layout (the j19/a42 seam pattern for
    the sort-layout axis): collect the advisor's cuts (7 doubles — a
    bounded driver action), lay lineitem out range-clustered + locally
    sorted, and report per-bucket extents. ``disjoint_ok`` pins the
    layout's load-bearing invariant — bucket extents never overlap
    (monotone assignment: every value in bucket b is <= cut_b, every
    value in b+1 is > cut_b) — which is exactly what makes parquet
    min/max file pruning effective on the sort key; the oracle asserts
    it as literal TRUE, so any assignment bug hash-fails.

    Plan contract (tests/test_plans.py): the layout is one
    REPARTITION_BY_NUM exchange at the advised bucket count plus a
    LOCAL sort (no global Exchange for the sort — sortWithinPartitions).

    Scale: this is the mart-writer's layout pass — one advised shuffle
    + local sort, then per-bucket stats are bucket-grain. The advisor's
    exact percentile pass is the only row-scale extra and is the KLL
    path's CHECK at 100 TB (see the advisor's docstring)."""
    from us_dot_flights_lakehouse_spark.operators.physical import range_layout

    adv = q_range_partition_advisor(spark, sf_dir).collect()
    cuts = [
        r["hi_price"]
        for r in sorted(adv, key=lambda r: r["bucket"])
        if r["hi_price"] is not None
    ]
    lineitem = read_table(spark, sf_dir, "lineitem")
    laid = range_layout(
        lineitem.where(F.col("l_extendedprice").isNotNull()),
        "l_extendedprice",
        cuts,
    )
    stats = laid.groupBy(F.col("__bucket").cast("int").alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )
    nxt = stats.select(
        (F.col("bucket") - 1).alias("bucket"),
        F.col("min_price").alias("next_min"),
    )
    return (
        stats.join(F.broadcast(nxt), "bucket", "left")
        .select(
            "bucket",
            "n_rows",
            "min_price",
            "max_price",
            F.coalesce(
                F.col("max_price") <= F.col("next_min"), F.lit(True)
            ).alias("disjoint_ok"),
        )
    )


X13_ORACLE = f"""
WITH cuts AS (
  SELECT {_RANGE_CUT_SQL} FROM lineitem WHERE l_extendedprice IS NOT NULL
), b AS (
  SELECT v, ({_RANGE_BUCKET_SQL}) AS bucket
  FROM (SELECT l_extendedprice AS v FROM lineitem
        WHERE l_extendedprice IS NOT NULL) CROSS JOIN cuts
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(v) AS min_price,
       max(v) AS max_price,
       TRUE AS disjoint_ok
FROM b GROUP BY 1
"""


QUERIES = {
    "a19_sketch_rollup": a19_sketch_rollup,
    "a38_kll_quantile_sketch": a38_kll_quantile_sketch,
    "w23_sketch_rolling_quantile": w23_sketch_rolling_quantile,
    "a39_mg_topk_sketch": a39_mg_topk_sketch,
    "w24_mg_rolling_topk": w24_mg_rolling_topk,
    "a40_kmv_distinct_sketch": a40_kmv_distinct_sketch,
    "w25_kmv_rolling_distinct": w25_kmv_rolling_distinct,
    "w26_mart_rolling_distinct": w26_mart_rolling_distinct,
    "o11_universe_sample": o11_universe_sample,
    "x11_incremental_mart": x11_incremental_mart,
    "x12_sketch_mart_maintenance": x12_sketch_mart_maintenance,
    "a41_sampled_kmv_crosscheck": a41_sampled_kmv_crosscheck,
    "q_groupby_cardinality_advisor": q_groupby_cardinality_advisor,
    "q_join_cardinality_advisor": q_join_cardinality_advisor,
    "j19_advised_join": j19_advised_join,
    "q_join_skew_advisor": q_join_skew_advisor,
    "j20_skew_advised_join": j20_skew_advised_join,
    "a42_advised_mart_layout": a42_advised_mart_layout,
    "q_range_partition_advisor": q_range_partition_advisor,
    "x13_advised_range_layout": x13_advised_range_layout,
}

ORACLES = {
    "a19_sketch_rollup": A19_ORACLE,
    "a38_kll_quantile_sketch": A38_ORACLE,
    "w23_sketch_rolling_quantile": W23_ORACLE,
    "a39_mg_topk_sketch": A39_ORACLE,
    "w24_mg_rolling_topk": W24_ORACLE,
    "a40_kmv_distinct_sketch": A40_ORACLE,
    "w25_kmv_rolling_distinct": W25_ORACLE,
    "w26_mart_rolling_distinct": W26_ORACLE,
    "o11_universe_sample": O11_ORACLE,
    "x11_incremental_mart": X11_ORACLE,
    "x12_sketch_mart_maintenance": X12_ORACLE,
    "a41_sampled_kmv_crosscheck": A41_ORACLE,
    "q_groupby_cardinality_advisor": Q_GROUPBY_ADVISOR_ORACLE,
    "q_join_cardinality_advisor": Q_JOIN_ADVISOR_ORACLE,
    "j19_advised_join": J19_ORACLE,
    "q_join_skew_advisor": Q_JOIN_SKEW_ADVISOR_ORACLE,
    "j20_skew_advised_join": J20_ORACLE,
    "a42_advised_mart_layout": A42_ORACLE,
    "q_range_partition_advisor": Q_RANGE_ADVISOR_ORACLE,
    "x13_advised_range_layout": X13_ORACLE,
}
