"""Window / time-series queries (w*): rolling, ranking, forecasting, funnels.

The module owns its catalog entries (``QUERIES``/``ORACLES`` at the end).
See the package ``__init__`` for the cross-engine determinism contract.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from us_dot_flights_lakehouse_spark.operators.aggregates import MONEY, dec_sum
from us_dot_flights_lakehouse_spark.sources.readers import read_table


def w1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number window — the canonical Spark top-k
    pattern (not in the reference, which only does global top-k; required
    for per-key sampling in training-data pipelines). Deterministic
    tie-break on the full key."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        lineitem.withColumn("rank_in_flag", F.row_number().over(w))
        .filter(F.col("rank_in_flag") <= 3)
        .select(
            "l_returnflag", "rank_in_flag", "l_orderkey", "l_linenumber",
            "l_extendedprice",
        )
    )


W1_ORACLE = """
SELECT l_returnflag, rank_in_flag, l_orderkey, l_linenumber, l_extendedprice
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
         ) AS INTEGER) AS rank_in_flag
  FROM lineitem
)
WHERE rank_in_flag <= 3
"""


def w2_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (extension): ranking + navigation + framed-aggregate window
    functions in one pass — lag/lead, row_number, ntile, percent_rank,
    cume_dist, and a 3-row moving sum, all over (customer, order-date)
    with a unique tie-break key. One shuffle on o_custkey serves every
    function (single Window exchange); the moving sum goes through
    DECIMAL so it is order-exact cross-engine."""
    orders = read_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(-2, W.currentRow)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.sum(F.col("o_totalprice").cast(MONEY))
        .over(wf)
        .cast("double")
        .alias("mov_sum_3"),
    )


W2_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(row_number() OVER w AS INTEGER) AS rn,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov_sum_3
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def w3_time_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 (extension): time-based RANGE window frame — trailing 1-hour
    event count and exact-decimal value sum per user, ordered by event
    time. The frame is expressed on integer epoch MICROSECONDS
    (``rangeBetween(-3_600_000_000, 0)``) so Spark and the oracle share
    the same exact frame arithmetic at full timestamp precision (a
    seconds-granularity cast would silently merge sub-second peers).

    One shuffle on user_id serves both frame aggregates; the RANGE frame
    is evaluated with a sliding accumulator per partition — linear, not
    quadratic, so the trailing-window pattern survives bot-grade per-user
    event counts. Skewed users are an AQE-skew concern, same as any
    window."""
    events = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        W.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, W.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("bigint").alias("n_last_hour"),
        F.sum(F.col("value").cast(MONEY)).over(w).cast("double").alias("val_last_hour"),
    )


W3_ORACLE = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS val_last_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def w5_gapfill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 (extension): time-series gap filling — resample each user's
    event stream to a dense hourly series: aggregate per (user, hour),
    build the per-user hourly spine with sequence()+explode between the
    user's first and last active hour, left-join the aggregates back and
    zero-fill the gaps. The canonical prep for windowed ML features over
    irregular event data.

    Scale: one shuffle for the hourly aggregate; the spine generates from
    a per-user 2-row bound (min/max), so its row count is active-span
    hours, never raw events; the spine join is key-partitioned. No global
    sort anywhere."""
    events = read_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    hourly = events.groupBy(F.col("user_id"), hour).agg(
        F.count("*").cast("bigint").alias("_n"),
        dec_sum("value", "_val"),
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("hour").alias("_h0"), F.max("hour").alias("_h1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence("_h0", "_h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    return spine.join(hourly, ["user_id", "hour"], "left").select(
        "user_id",
        "hour",
        F.coalesce("_n", F.lit(0)).cast("bigint").alias("n_events"),
        F.coalesce("_val", F.lit(0.0)).alias("total_value"),
    )


W5_ORACLE = """
WITH hourly AS (
  SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS hour,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS val
  FROM events GROUP BY 1, 2
), b AS (
  SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY 1
), spine AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM b
)
SELECT s.user_id, s.hour,
       COALESCE(h.n, 0) AS n_events,
       COALESCE(h.val, CAST(0.0 AS DOUBLE)) AS total_value
FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hour = h.hour
"""


def w6_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 (extension): last-observation-carried-forward imputation over
    the gap-filled hourly series — inactive hours inherit the previous
    active hour's value (``last(..., ignorenulls=True)`` over an
    unbounded-preceding frame), the standard prep for ML features that
    must not see zeros where 'no reading' was meant. Composes directly on
    ``w5_gapfill_resample``'s plan; the fill window rides the same
    user_id partitioning as the spine join — no extra shuffle."""
    events = read_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    hourly = events.groupBy(F.col("user_id"), hour).agg(
        F.count("*").cast("bigint").alias("_n"),
        dec_sum("value", "_val"),
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("hour").alias("_h0"), F.max("hour").alias("_h1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("_h0", "_h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    joined = spine.join(hourly, ["user_id", "hour"], "left")
    w = W.partitionBy("user_id").orderBy("hour").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return joined.select(
        "user_id",
        "hour",
        (F.col("_n").isNotNull()).alias("observed"),
        F.last("_val", ignorenulls=True).over(w).alias("filled_value"),
    )


W6_ORACLE = """
WITH hourly AS (
  SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS hour,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS val
  FROM events GROUP BY 1, 2
), b AS (
  SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY 1
), spine AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM b
), joined AS (
  SELECT s.user_id, s.hour, h.n, h.val
  FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hour = h.hour
)
SELECT user_id, hour,
       n IS NOT NULL AS observed,
       last_value(val IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_value
FROM joined
"""


def w7_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 (extension): ordered funnel analysis — per user, the first
    view, the first click AFTER that view, and the first purchase AFTER
    that click (strict event-order matching, not mere presence), plus the
    reached stage. ONE shuffle: events collect per user and the staged
    first-timestamps derive from array expressions (each stage's filter
    references the previous stage's timestamp; NULL propagates so a
    missing stage nulls everything downstream).

    Scale: per-user arrays are session-sized; a bot user with 10^7 events
    would bloat its array — for adversarially skewed users, swap to the
    3-aggregation conditional-min form (one extra shuffle, no arrays).
    The synthetic corpus has ~20 events/user, the array form wins."""
    events = read_table(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.collect_list(
            F.struct(F.col("ts").alias("ts"), F.col("event_type").alias("et"))
        ).alias("evs")
    )

    def first_after(kind: str, prev):
        cand = F.filter(
            F.col("evs"),
            (lambda e: e["et"] == kind)
            if prev is None
            else (lambda e: (e["et"] == kind) & (e["ts"] > prev)),
        )
        return F.array_min(F.transform(cand, lambda e: e["ts"]))

    t_view = first_after("view", None)
    staged = u.select("user_id", t_view.alias("t_view"), F.col("evs"))
    t_click = first_after("click", F.col("t_view"))
    staged = staged.select("user_id", "t_view", t_click.alias("t_click"), "evs")
    t_purchase = first_after("purchase", F.col("t_click"))
    staged = staged.select(
        "user_id", "t_view", "t_click", t_purchase.alias("t_purchase")
    )
    stage = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return staged.select(
        "user_id",
        "t_view",
        "t_click",
        "t_purchase",
        stage.cast("int").alias("funnel_stage"),
    )


W7_ORACLE = """
WITH u AS (
  SELECT user_id, list(struct_pack(ts := ts, et := event_type)) AS evs
  FROM events GROUP BY user_id
), f AS (
  SELECT user_id,
    list_min(list_transform(list_filter(evs, e -> e.et = 'view'),
                            e -> e.ts)) AS t_view,
    list_min(list_transform(list_filter(evs, e -> e.et = 'click'
                                             AND e.ts > t_view),
                            e -> e.ts)) AS t_click,
    list_min(list_transform(list_filter(evs, e -> e.et = 'purchase'
                                             AND e.ts > t_click),
                            e -> e.ts)) AS t_purchase
  FROM u
)
SELECT user_id, t_view, t_click, t_purchase,
       CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
                 WHEN t_click IS NOT NULL THEN 2
                 WHEN t_view IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS funnel_stage
FROM f
"""


def w8_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 (extension): rolling z-score anomaly flags — trailing 24-hour
    mean/variance per user over the gap-filled hourly series, flagging
    hours where (x - mean)^2 > 9 * var (|z| > 3 without the sqrt; the
    square form keeps the float algebra to one shape both engines
    reproduce bit-for-bit). Window sums accumulate in exact DECIMAL
    (order-insensitive under parallelism) and surface as DOUBLE only for
    the final scalar arithmetic.

    Physical note (two generations of fixes): Spark evaluates sliding
    DECIMAL frames by re-summing the frame per row (O(frame) each —
    24.6 s at sf0.1); running-total differences cut that to 8.1 s but
    still paid a spine join + several JVM window passes. This version
    moves the whole per-user series into ONE grouped-map Arrow kernel on
    exact integer cents: the hourly decimal sums convert losslessly to
    int64 cents, the gap-filled spine and the 24-row rolling sums are
    numpy cumsum differences (exact integers — cents² window sums stay
    ≤2^53, so the final /100.0 and /10000.0 double divisions are
    correctly rounded, exactly what the oracle's decimal→double casts
    produce), and the float algebra mirrors the declarative-frame oracle
    op for op. One shuffle total — and the grouped-map keys on a 64-way
    user-hash BUCKET, not the raw user_id: per-group Arrow round-trips
    cost ~5 ms each, so 1500 single-user groups paid more in IPC than
    the whole computation (measured 10.5 s); 64 multi-user buckets with
    an in-kernel per-user loop amortize it (~2 s). At 100 TB raise the
    bucket count with the cluster — the kernel is per-user-linear
    either way."""
    import numpy as np
    import pandas as pd

    events = read_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    hourly = events.groupBy(F.col("user_id"), hour).agg(
        (F.sum(F.col("value").cast(MONEY)) * 100)
        .cast("long")
        .alias("cents")
    )

    def roll_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        # r14: one vectorized pass over ALL users in the bucket — the
        # per-user date_range/concat loop was ~60% of the query. The
        # gap-filled hour spines concatenate into one flat array via
        # segment offsets; the rolling sums come from GLOBAL cumsums
        # with per-user index math: for t >= 24 the user offsets cancel
        # in C[i] − C[i−24], for t < 24 the window is the user prefix
        # C[i] − P(user start). Integer differences are exact mod 2^64
        # (same contract as the old per-user cumsum), so every window
        # sum — and the ≤2^53 precondition check on it — is bit-identical
        # to the per-user kernel (verified in-session).
        pdf = pdf.sort_values(["user_id", "hour"], kind="mergesort")
        users_in = pdf["user_id"].to_numpy()
        hours_in = pdf["hour"].to_numpy()
        cents_in = pdf["cents"].to_numpy()
        HOUR = np.timedelta64(3_600_000_000_000, "ns")
        ustart = np.flatnonzero(np.r_[True, users_in[1:] != users_in[:-1]])
        uend = np.r_[ustart[1:], len(users_in)]
        first = hours_in[ustart]
        last = hours_in[uend - 1]
        lens = ((last - first) // HOUR).astype(np.int64) + 1
        total = int(lens.sum())
        ostart = np.r_[0, np.cumsum(lens)[:-1]]
        seg_id = np.repeat(np.arange(len(lens)), lens)
        t = np.arange(total, dtype=np.int64) - ostart[seg_id]
        out_hours = first[seg_id] + t * HOUR
        out_user = users_in[ustart][seg_id]
        dense = np.zeros(total, dtype=np.int64)
        in_seg = np.repeat(np.arange(len(lens)), uend - ustart)
        pos = ostart[in_seg] + ((hours_in - first[in_seg]) // HOUR).astype(
            np.int64
        )
        dense[pos] = cents_in
        c = np.cumsum(dense)
        csq = np.cumsum(dense * dense)
        # prefix totals just BEFORE each user's first row
        p_c = c[ostart] - dense[ostart]
        p_sq = csq[ostart] - dense[ostart] * dense[ostart]
        # np.where evaluates both branches for every row: clamp the
        # gather index so a bucket under 24 gap-filled hours stays in range
        back = np.maximum(np.arange(total) - 24, 0)
        lag_c = np.where(t >= 24, c[back], p_c[seg_id])
        lag_sq = np.where(t >= 24, csq[back], p_sq[seg_id])
        s_c = c - lag_c
        sq_c = csq - lag_sq
        # checked precondition (ADVICE r5): the int64 prefix sums may wrap
        # (the 24h-window DIFFERENCE is still exact mod 2^64), but the
        # window sums themselves must stay ≤ 2^53 so the float64 variance
        # below is exact like the old decimal path; hourly |cents| above
        # ~$30M would silently lose precision — fail loudly instead.
        if len(sq_c) and (
            int(np.max(sq_c)) > 1 << 53 or int(np.max(np.abs(s_c))) > 1 << 53
        ):
            raise OverflowError(
                "w8_rolling_anomaly: 24h window sum of cents^2 exceeds 2^53; "
                "float64 variance would round — rescale the value column"
            )
        n = np.minimum(t + 1, 24).astype(np.float64)
        x = dense / 100.0
        s = s_c / 100.0
        sq = sq_c / 10000.0
        mean = s / n
        var = sq / n - mean * mean
        return pd.DataFrame(
            {
                "user_id": out_user,
                "hour": out_hours,
                "total_value": x,
                "mean_24h": mean,
                "var_24h": var,
                "is_anomaly": (x - mean) * (x - mean) > 9.0 * var,
            }
        )

    bucketed = hourly.withColumn("bucket", F.pmod(F.col("user_id"), F.lit(64)))
    return bucketed.groupBy("bucket").applyInPandas(
        roll_bucket,
        schema=(
            "user_id long, hour timestamp, total_value double, "
            "mean_24h double, var_24h double, is_anomaly boolean"
        ),
    )


W8_ORACLE = """
WITH hourly AS (
  SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS hour,
         SUM(CAST(value AS DECIMAL(28,2))) AS v
  FROM events GROUP BY 1, 2
), b AS (
  SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY 1
), spine AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM b
), dense AS (
  SELECT s.user_id, s.hour,
         COALESCE(h.v, CAST(0 AS DECIMAL(28,2))) AS v
  FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hour = h.hour
), rolled AS (
  SELECT user_id, hour,
         CAST(v AS DOUBLE) AS x,
         CAST(COUNT(*) OVER w AS DOUBLE) AS n,
         CAST(SUM(v) OVER w AS DOUBLE) AS s,
         CAST(SUM(v * v) OVER w AS DOUBLE) AS sq
  FROM dense
  WINDOW w AS (PARTITION BY user_id ORDER BY hour
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT user_id, hour, x AS total_value,
       s / n AS mean_24h,
       sq / n - (s / n) * (s / n) AS var_24h,
       (x - s / n) * (x - s / n) > 9.0 * (sq / n - (s / n) * (s / n))
         AS is_anomaly
FROM rolled
"""


def w4_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (extension): SCD2 dimension history rebuilt from a change log
    (operators/scd.py) — treat each user's event_type stream as attribute
    changes: collapse consecutive repeats (gaps-and-islands via lag), then
    effective_from / effective_to / is_current / version per key. One
    shuffle on the dimension key; event_id tiebreaks equal timestamps so
    the history is deterministic."""
    from us_dot_flights_lakehouse_spark.operators.scd import scd2_from_changelog

    events = read_table(spark, sf_dir, "events")
    return scd2_from_changelog(
        events, ["user_id"], "event_type", "ts", "event_id"
    )


W4_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type AS state, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_state,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ts
  FROM events
), changes AS (
  -- mirror the operator's null-safe change detection (eqNullSafe +
  -- lag(ts) first-row marker): a NULL state following a NULL state is
  -- NOT a change, and the first row is always kept (ADVICE r5)
  SELECT user_id, state, ts, event_id FROM ordered
  WHERE prev_ts IS NULL OR state IS DISTINCT FROM prev_state
)
SELECT user_id, state,
       ts AS effective_from,
       lead(ts) OVER w AS effective_to,
       (lead(ts) OVER w IS NULL) AS is_current,
       CAST(row_number() OVER w AS INTEGER) AS version
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def w9_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 (extension): weekly cohort retention — users cohort by the
    Monday-start week of their FIRST event; retention at week offset k is
    the share of the cohort active (any event) k weeks later. The
    product-analytics table behind every retention curve.

    Scale: firsts is one user_id aggregate; activity is the distinct
    (user, week) projection; the user_id join shuffles both row-scale
    sides (AQE picks the strategy), and the cohort-size join broadcasts
    a cohort-cardinality (weeks, tiny) aggregate. retention_rate is one
    bigint/bigint double division — bit-stable."""
    events = read_table(spark, sf_dir, "events")
    # DuckDB's date_trunc('week') yields DATE; match the output type
    wk = lambda c: F.date_trunc("week", F.col(c)).cast("date")  # noqa: E731
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    active = events.select(
        "user_id", wk("ts").alias("active_week")
    ).distinct()
    joined = active.join(firsts, "user_id").select(
        "cohort_week",
        (
            F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
        ).cast("int").alias("week_offset"),
        "user_id",
    )
    cohort_sizes = firsts.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    ret = joined.groupBy("cohort_week", "week_offset").agg(
        F.count("*").cast("bigint").alias("n_active")
    )
    return ret.join(F.broadcast(cohort_sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        (
            F.col("n_active").cast("double")
            / F.col("cohort_size").cast("double")
        ).alias("retention_rate"),
    )


W9_ORACLE = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY 1
), active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
), sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
  FROM firsts GROUP BY 1
), ret AS (
  SELECT f.cohort_week,
         CAST(datediff('day', f.cohort_week, a.active_week) // 7 AS INTEGER)
           AS week_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM active a JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT r.cohort_week, r.week_offset, r.n_active, s.cohort_size,
       CAST(r.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
         AS retention_rate
FROM ret r JOIN sizes s USING (cohort_week)
"""


def w10_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 (extension): event-type transition matrix — per user, the
    (current, next) event-type pairs in timestamp order (event_id breaks
    timestamp ties so the chain is deterministic), counted globally and
    normalized to P(next | current). The first-order Markov model behind
    next-action prediction and anomalous-sequence scoring.

    Scale: ONE user_id window shuffle for the lead(); the pair counts and
    the per-current-type normalizer both aggregate the tiny type×type
    table (the normalizer rides a partitionBy(current) window over it —
    a handful of rows per partition). The probability is one
    bigint/bigint double division — bit-stable."""
    events = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("event_type").alias("cur_type"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = pairs.groupBy("cur_type", "next_type").agg(
        F.count("*").cast("bigint").alias("n_transitions")
    )
    wt = W.partitionBy("cur_type")
    return counts.select(
        "cur_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wt).cast("double")
        ).alias("p_next"),
    )


W10_ORACLE = """
WITH pairs AS (
  SELECT event_type AS cur_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), counts AS (
  SELECT cur_type, next_type, CAST(count(*) AS BIGINT) AS n_transitions
  FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT cur_type, next_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / CAST(sum(n_transitions) OVER (PARTITION BY cur_type) AS DOUBLE)
         AS p_next
FROM counts
"""


def w11_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11 (extension): relative-rank window suite — percent_rank,
    cume_dist and quartile (ntile) of each order's total price within
    its customer's market segment. Rank-based, so every output is a
    ratio of exact integer positions — deterministic on any engine
    (ties resolved by the (price, orderkey) total order).

    Scale: one segment-key window shuffle; segments are few but large —
    at extreme skew pre-aggregate or bucket by (segment, price range)
    first. The customer dim joins broadcast."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    seg = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
    )
    w = W.partitionBy("c_mktsegment").orderBy("o_totalprice", "o_orderkey")
    return seg.select(
        "o_orderkey",
        "c_mktsegment",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


W11_ORACLE = """
SELECT o_orderkey, c_mktsegment, o_totalprice,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume_dist,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM orders JOIN customer ON o_custkey = c_custkey
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY o_totalprice, o_orderkey)
"""


EWMA_ALPHA = 0.25  # exact binary fraction — the fold multipliers are exact


def w12_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 (extension): exponentially-weighted moving average per user
    over the hourly value series — the classic smoothing recurrence
    s_t = α·x_t + (1−α)·s_{t−1} (α = {EWMA_ALPHA}, an exact binary
    fraction so both multipliers are exact doubles, s_0 = x_0). A
    recurrence can't be a window frame, and a Spark HOF fold that builds
    the output array would copy the accumulator per step (O(n²) —
    MEMORY's interpreted-HOF trap), so the series folds in a grouped-map
    Arrow kernel: plain left-to-right IEEE double ops in hour order —
    the exact op sequence the oracle's list_reduce performs, so results
    are bit-identical and partition-independent.

    Scale: ONE shuffle, keyed on a 64-way user-hash bucket rather than
    the raw user (per-group Arrow IPC costs ~5 ms — single-user groups
    paid more in round-trips than in math, the w8 lesson). r14: the
    kernel runs every user in the bucket in LOCKSTEP — one sort, the
    series scattered into a [users × max_len] lane matrix (NaN-padded
    past each series' end; lanes are independent so padding cannot leak
    into valid entries), then max_len vectorized recurrence steps across
    all lanes. The per-lane op sequence is the identical left-to-right
    IEEE fold (numpy elementwise mul/add are the same doubles, no FMA),
    verified bit-equal against the per-user loop in-session; the 1500
    per-user pandas sort/concat round-trips it replaces were ~60% of the
    query (interleaved A/B 1.97 → 0.78 s at sf0.1). O(max series length)
    state per bucket — for years-long hot keys, chunk by month and carry
    the chunk-final state forward."""
    import numpy as np
    import pandas as pd

    events = read_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    hourly = events.groupBy(F.col("user_id"), hour).agg(
        F.sum(F.col("value").cast(MONEY)).cast("double").alias("x")
    )
    a = float(EWMA_ALPHA)

    def fold_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "hour"], kind="mergesort")
        users = pdf["user_id"].to_numpy()
        x = pdf["x"].to_numpy()
        ustart = np.flatnonzero(np.r_[True, users[1:] != users[:-1]])
        seg_len = np.diff(np.r_[ustart, len(users)])
        nseg, maxlen = len(ustart), int(seg_len.max())
        seg_id = np.repeat(np.arange(nseg), seg_len)
        t = np.arange(len(users)) - ustart[seg_id]
        X = np.full((nseg, maxlen), np.nan)
        X[seg_id, t] = x
        E = np.empty_like(X)
        E[:, 0] = X[:, 0]
        for j in range(1, maxlen):
            E[:, j] = a * X[:, j] + (1.0 - a) * E[:, j - 1]
        return pd.DataFrame(
            {
                "user_id": users,
                "hour": pdf["hour"].to_numpy(),
                "x": x,
                "ewma": E[seg_id, t],
            }
        )

    bucketed = hourly.withColumn("bucket", F.pmod(F.col("user_id"), F.lit(64)))
    out = bucketed.groupBy("bucket").applyInPandas(
        fold_bucket, schema="user_id long, hour timestamp, x double, ewma double"
    )
    return out.select(
        "user_id", "hour", F.col("x").alias("hourly_value"), "ewma"
    )


W12_ORACLE = f"""
WITH hourly AS (
  SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS hour,
         CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
), series AS (
  SELECT user_id, list(struct_pack(hour := hour, x := x) ORDER BY hour) AS pts
  FROM hourly GROUP BY 1
), folded AS (
  SELECT user_id,
         list_reduce(
           list_transform(pts, p -> [struct_pack(hour := p.hour, x := p.x,
                                                 e := p.x)]),
           (acc, nxt) -> list_append(acc,
             struct_pack(hour := nxt[1].hour, x := nxt[1].x,
                         e := CAST({EWMA_ALPHA} AS DOUBLE) * nxt[1].x
                              + CAST({1.0 - EWMA_ALPHA} AS DOUBLE)
                                * acc[len(acc)].e))
         ) AS out
  FROM series
)
SELECT user_id, u.hour AS hour, u.x AS hourly_value, u.e AS ewma
FROM (SELECT user_id, unnest(out) AS u FROM folded)
"""


def w13_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13 (extension): weekly-activity bitmaps — per user, one BIGINT
    whose bit k is set iff the user had any event in week k of the
    corpus (weeks since the global min week, capped at 62 bits): the
    roaring-bitmap-style compact presence structure behind fast segment
    intersections ('active in weeks 3 AND 7') without row blowup.
    bit_or is exact and order-insensitive; n_active_weeks = popcount.

    Scale: one user aggregate; the global epoch rides a 1-row broadcast
    aggregate (whitelisted family)."""
    events = read_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    epoch = events.agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("w0")
    )
    idx = F.least(
        (F.datediff(wk, F.col("w0")) / 7).cast("int"), F.lit(62)
    )
    bits = events.crossJoin(F.broadcast(epoch)).select(
        "user_id",
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), idx
        ).alias("bit"),
    )
    agg = bits.groupBy("user_id").agg(
        F.bit_or("bit").cast("bigint").alias("activity_mask")
    )
    return agg.select(
        "user_id",
        "activity_mask",
        F.bit_count("activity_mask").cast("int").alias("n_active_weeks"),
        (
            F.col("activity_mask").bitwiseAND(F.lit(1).cast("long")) != 0
        ).alias("active_week0"),
    )


W13_ORACLE = """
WITH epoch AS (
  SELECT date_trunc('week', min(ts)) AS w0 FROM events
), bits AS (
  SELECT user_id,
         (CAST(1 AS BIGINT) << least(
            CAST(datediff('day', w0, date_trunc('week', ts)) // 7
                 AS INTEGER), 62)) AS bit
  FROM events, epoch
), agg AS (
  SELECT user_id, CAST(bit_or(bit) AS BIGINT) AS activity_mask
  FROM bits GROUP BY 1
)
SELECT user_id, activity_mask,
       CAST(bit_count(activity_mask) AS INTEGER) AS n_active_weeks,
       (activity_mask & CAST(1 AS BIGINT)) != 0 AS active_week0
FROM agg
"""


HOLT_ALPHA = 0.5  # exact binary fractions: every multiplier is exact


HOLT_BETA = 0.25


def w14_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14 (extension): Holt linear-trend smoothing — the two-state
    forecasting recurrence (level/trend double exponential smoothing)
    per user over the hourly value series, with the one-step-ahead
    forecast level+trend: the baseline every ops-forecasting stack
    starts from. α={HOLT_ALPHA}, β={HOLT_BETA} are exact binary
    fractions; the recurrence folds left-to-right in a bucketed
    grouped-map Arrow kernel (w8/w12 pattern — plain IEEE double ops in
    hour order, the exact op sequence of the oracle's list_reduce over
    a struct state).

    Scale: ONE shuffle keyed on a 64-way user-hash bucket; r14: the
    bucket's users fold in LOCKSTEP (the w12 lane-matrix kernel — one
    sort, NaN-padded [users × max_len] lanes, max_len vectorized
    recurrence steps; per-lane op order identical to the per-user loop,
    verified bit-equal in-session). O(max series length) state per
    bucket."""
    import numpy as np
    import pandas as pd

    events = read_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    hourly = events.groupBy(F.col("user_id"), hour).agg(
        F.sum(F.col("value").cast(MONEY)).cast("double").alias("x")
    )
    a, b = float(HOLT_ALPHA), float(HOLT_BETA)

    def fold_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "hour"], kind="mergesort")
        users = pdf["user_id"].to_numpy()
        x = pdf["x"].to_numpy()
        ustart = np.flatnonzero(np.r_[True, users[1:] != users[:-1]])
        seg_len = np.diff(np.r_[ustart, len(users)])
        nseg, maxlen = len(ustart), int(seg_len.max())
        seg_id = np.repeat(np.arange(nseg), seg_len)
        t = np.arange(len(users)) - ustart[seg_id]
        X = np.full((nseg, maxlen), np.nan)
        X[seg_id, t] = x
        L = np.empty_like(X)
        B = np.empty_like(X)
        L[:, 0] = X[:, 0]
        B[:, 0] = 0.0
        for j in range(1, maxlen):
            prev = L[:, j - 1]
            L[:, j] = a * X[:, j] + (1.0 - a) * (L[:, j - 1] + B[:, j - 1])
            B[:, j] = b * (L[:, j] - prev) + (1.0 - b) * B[:, j - 1]
        return pd.DataFrame(
            {
                "user_id": users,
                "hour": pdf["hour"].to_numpy(),
                "x": x,
                "level": L[seg_id, t],
                "trend": B[seg_id, t],
            }
        )

    bucketed = hourly.withColumn("bucket", F.pmod(F.col("user_id"), F.lit(64)))
    out = bucketed.groupBy("bucket").applyInPandas(
        fold_bucket,
        schema="user_id long, hour timestamp, x double, level double, trend double",
    )
    return out.select(
        "user_id",
        "hour",
        F.col("x").alias("hourly_value"),
        "level",
        "trend",
        (F.col("level") + F.col("trend")).alias("forecast_next"),
    )


W14_ORACLE = f"""
WITH hourly AS (
  SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS hour,
         CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
), series AS (
  SELECT user_id, list(struct_pack(hour := hour, x := x) ORDER BY hour) AS pts
  FROM hourly GROUP BY 1
), folded AS (
  SELECT user_id,
         list_reduce(
           list_transform(pts, p -> [struct_pack(hour := p.hour, x := p.x,
                                                 l := p.x,
                                                 b := CAST(0.0 AS DOUBLE))]),
           (acc, nxt) -> list_append(acc,
             struct_pack(
               hour := nxt[1].hour, x := nxt[1].x,
               l := CAST({HOLT_ALPHA} AS DOUBLE) * nxt[1].x
                    + CAST({1.0 - HOLT_ALPHA} AS DOUBLE)
                      * (acc[len(acc)].l + acc[len(acc)].b),
               b := CAST({HOLT_BETA} AS DOUBLE)
                    * ((CAST({HOLT_ALPHA} AS DOUBLE) * nxt[1].x
                        + CAST({1.0 - HOLT_ALPHA} AS DOUBLE)
                          * (acc[len(acc)].l + acc[len(acc)].b))
                       - acc[len(acc)].l)
                    + CAST({1.0 - HOLT_BETA} AS DOUBLE) * acc[len(acc)].b))
         ) AS out
  FROM series
)
SELECT user_id, u.hour AS hour, u.x AS hourly_value,
       u.l AS level, u.b AS trend, u.l + u.b AS forecast_next
FROM (SELECT user_id, unnest(out) AS u FROM folded)
"""


HW_ALPHA = 0.5


HW_BETA = 0.25


HW_GAMMA = 0.25


HW_PERIOD = 7


def w17_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17 (extension): Holt–Winters ADDITIVE seasonal smoothing — the
    three-state recurrence (level / trend / weekly seasonal) over each
    event type's daily count series, completing the smoothing family
    (EWMA w12 → Holt w14 → Holt–Winters w17). Positional seasonality
    with period {HW_PERIOD}; first-season init l=x, b=0, s=0 (simple,
    deterministic). α/β/γ are exact binary fractions and the kernel's
    op order is the exact op sequence of the oracle's list_reduce (the
    seasonal lag reads the growing accumulator {HW_PERIOD} entries
    back) — bit-stable.

    Scale: one shuffle to daily counts, one grouped-map keyed on event
    type (key on pmod(hash(type), 64) buckets when type cardinality is
    high — w8/w12 lesson); O(period) state per series."""
    import pandas as pd

    events = read_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("double").alias("x"))
    a, b, g, m = HW_ALPHA, HW_BETA, HW_GAMMA, HW_PERIOD

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        for _, grp in pdf.groupby("event_type"):
            grp = grp.sort_values("day").reset_index(drop=True)
            lvls, trds, seas = [], [], []
            for t, x in enumerate(grp["x"].tolist()):
                if t < m:
                    lvl, trd, sea = x, 0.0, 0.0
                else:
                    s_m = seas[t - m]
                    prev_l, prev_b = lvls[t - 1], trds[t - 1]
                    lvl = a * (x - s_m) + (1.0 - a) * (prev_l + prev_b)
                    trd = b * (lvl - prev_l) + (1.0 - b) * prev_b
                    sea = g * (x - lvl) + (1.0 - g) * s_m
                lvls.append(lvl)
                trds.append(trd)
                seas.append(sea)
            grp["level"] = lvls
            grp["trend"] = trds
            grp["seasonal"] = seas
            outs.append(grp)
        return pd.concat(outs, ignore_index=True)

    return daily.groupBy("event_type").applyInPandas(
        fold,
        schema=(
            "event_type string, day date, x double, level double, "
            "trend double, seasonal double"
        ),
    ).select(
        "event_type",
        "day",
        F.col("x").alias("daily_count"),
        "level",
        "trend",
        "seasonal",
    )


_HW_L = (
    f"CAST({HW_ALPHA} AS DOUBLE) * (nxt[1].x - acc[len(acc) - {HW_PERIOD - 1}].s)"
    f" + CAST({1.0 - HW_ALPHA} AS DOUBLE)"
    " * (acc[len(acc)].l + acc[len(acc)].b)"
)


W17_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
), series AS (
  SELECT event_type,
         list(struct_pack(day := day, x := x) ORDER BY day) AS pts
  FROM daily GROUP BY 1
), folded AS (
  SELECT event_type,
         list_reduce(
           list_transform(pts, p -> [struct_pack(day := p.day, x := p.x,
                                                 l := p.x,
                                                 b := CAST(0.0 AS DOUBLE),
                                                 s := CAST(0.0 AS DOUBLE))]),
           (acc, nxt) -> list_append(acc,
             CASE WHEN len(acc) < {HW_PERIOD}
             THEN struct_pack(day := nxt[1].day, x := nxt[1].x,
                              l := nxt[1].x, b := CAST(0.0 AS DOUBLE),
                              s := CAST(0.0 AS DOUBLE))
             ELSE struct_pack(day := nxt[1].day, x := nxt[1].x,
               l := {_HW_L},
               b := CAST({HW_BETA} AS DOUBLE) * (({_HW_L}) - acc[len(acc)].l)
                    + CAST({1.0 - HW_BETA} AS DOUBLE) * acc[len(acc)].b,
               s := CAST({HW_GAMMA} AS DOUBLE) * (nxt[1].x - ({_HW_L}))
                    + CAST({1.0 - HW_GAMMA} AS DOUBLE)
                      * acc[len(acc) - {HW_PERIOD - 1}].s)
             END)
         ) AS out
  FROM series
)
SELECT event_type, u.day AS day, u.x AS daily_count,
       u.l AS level, u.b AS trend, u.s AS seasonal
FROM (SELECT event_type, unnest(out) AS u FROM folded)
"""


def w18_anomaly_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W18: anomaly-flag ENSEMBLE — three independent detectors over
    each event type's daily count series (z-score from exact integer
    moments, Tukey IQR fence from exact quantiles, spike-vs-yesterday
    ratio) with a majority vote: single detectors false-positive on
    their blind spots (z on heavy tails, IQR on trends, spike on level
    shifts), so production alerting votes them — this is that table.
    Counts exact; thresholds pointwise doubles; quantile_cont parity is
    the a11-established convention.

    Scale: one shuffle to daily counts, one per-type stats aggregate
    broadcast back, one lag window."""
    events = read_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("cnt"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("s2"),
        F.percentile("cnt", F.lit([0.25, 0.75])).alias("qs"),
    )
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    var = F.col("s2").cast("double") / F.col("n").cast("double") - mean * mean
    iqr = F.col("qs")[1] - F.col("qs")[0]
    wl = W.partitionBy("event_type").orderBy("day")
    x = F.col("cnt").cast("double")
    joined = (
        daily.join(F.broadcast(stats), "event_type")
        .withColumn("prev", F.lag("cnt").over(wl))
        .select(
            "event_type",
            "day",
            F.col("cnt").cast("long").alias("cnt"),
            ((x - mean) * (x - mean) > 4.0 * var).alias("z_flag"),
            (x > F.col("qs")[1] + 1.5 * iqr).alias("iqr_flag"),
            (
                F.col("prev").isNotNull() & (F.col("cnt") > 2 * F.col("prev"))
            ).alias("spike_flag"),
        )
    )
    votes = (
        F.col("z_flag").cast("int")
        + F.col("iqr_flag").cast("int")
        + F.col("spike_flag").cast("int")
    )
    return joined.select(
        "*", votes.cast("long").alias("votes"), (votes >= 2).alias("is_anomaly")
    )


W18_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cnt) AS BIGINT) AS s1,
         CAST(sum(cnt * cnt) AS BIGINT) AS s2,
         quantile_cont(cnt, 0.25) AS q1,
         quantile_cont(cnt, 0.75) AS q3
  FROM daily GROUP BY 1
), lagged AS (
  SELECT d.*, lag(cnt) OVER (PARTITION BY d.event_type ORDER BY day) AS prev,
         s.n, s.s1, s.s2, s.q1, s.q3
  FROM daily d JOIN stats s ON d.event_type = s.event_type
)
SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
       (CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         * (CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         > 4.0 * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS z_flag,
       CAST(cnt AS DOUBLE) > q3 + 1.5 * (q3 - q1) AS iqr_flag,
       (prev IS NOT NULL AND cnt > 2 * prev) AS spike_flag,
       CAST(CAST((CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         * (CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         > 4.0 * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS INT)
        + CAST(CAST(cnt AS DOUBLE) > q3 + 1.5 * (q3 - q1) AS INT)
        + CAST((prev IS NOT NULL AND cnt > 2 * prev) AS INT) AS BIGINT) AS votes,
       CAST((CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         * (CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         > 4.0 * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS INT)
        + CAST(CAST(cnt AS DOUBLE) > q3 + 1.5 * (q3 - q1) AS INT)
        + CAST((prev IS NOT NULL AND cnt > 2 * prev) AS INT) >= 2 AS is_anomaly
FROM lagged
"""


def w15_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15: CUSUM level-shift (changepoint) detection per event type —
    the standard page-load/traffic "when did the level change" audit:
    S_t = Σ_{i≤t}(cᵢ − mean) over the daily count series; the change
    point is the day of max |S_t|. The running sum is kept EXACT by
    construction: S_t = cum_cnt_t − t·mean, where cum_cnt is an integer
    running sum (exact under any window implementation — no float
    accumulation order to disagree on, unlike a windowed double sum,
    which DuckDB evaluates with a segment tree and Spark sequentially).

    Scale: one shuffle to daily counts, one event_type-keyed window; the
    argmax is a deterministic row_number pick (|S| desc, date asc)."""
    events = read_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("cnt"))
    wt = W.partitionBy("event_type").orderBy("day")
    tot = W.partitionBy("event_type")
    scored = daily.select(
        "event_type",
        "day",
        "cnt",
        F.sum("cnt").over(wt).alias("cum_cnt"),
        F.row_number().over(wt).alias("t"),
        F.sum("cnt").over(tot).alias("total"),
        F.count("*").over(tot).alias("n_days"),
    ).withColumn(
        "cusum",
        F.col("cum_cnt").cast("double")
        - F.col("t").cast("double")
        * (F.col("total").cast("double") / F.col("n_days").cast("double")),
    )
    pick = W.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), F.col("day")
    )
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter("rn = 1")
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            (
                F.col("total").cast("double") / F.col("n_days").cast("double")
            ).alias("mean_daily"),
            F.col("day").alias("change_day"),
            F.abs(F.col("cusum")).alias("max_cusum"),
        )
    )


W15_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, day,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY day) AS cum_cnt,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         sum(cnt) OVER (PARTITION BY event_type) AS total,
         count(*) OVER (PARTITION BY event_type) AS n_days
  FROM daily
), cu AS (
  SELECT event_type, day, n_days, total,
         CAST(cum_cnt AS DOUBLE)
           - CAST(t AS DOUBLE) * (CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE))
           AS cusum
  FROM scored
), pick AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY abs(cusum) DESC, day) AS rn
  FROM cu
)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
       day AS change_day, abs(cusum) AS max_cusum
FROM pick WHERE rn = 1
"""


def w16_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W16: seasonal-naive decomposition of the hourly event series per
    event type — seasonal component = hour-of-day mean, residual
    variance from exact integer moments (Σc, Σc² per cell → var =
    Σc²/n − mean², all pointwise double arithmetic): the
    trend/seasonality sanity panel behind every traffic dashboard, and
    the input to anomaly thresholds per (type, hour-of-day) cell.

    Scale: one shuffle to (type, day, hour) counts, one to the 24×type
    cells; everything else is map-side."""
    events = read_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hod"),
    ).agg(F.count("*").alias("cnt"))
    cells = hourly.groupBy("event_type", "hod").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.sum("cnt").cast("bigint").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("s2"),
    )
    typ = cells.groupBy("event_type").agg(
        F.sum("s1").cast("bigint").alias("tot"),
        F.sum("n_obs").cast("bigint").alias("ncells"),
    )
    mean = F.col("s1").cast("double") / F.col("n_obs").cast("double")
    overall = F.col("tot").cast("double") / F.col("ncells").cast("double")
    return (
        cells.join(F.broadcast(typ), "event_type")
        .select(
            "event_type",
            "hod",
            "n_obs",
            mean.alias("seasonal_mean"),
            (
                F.col("s2").cast("double") / F.col("n_obs").cast("double")
                - mean * mean
            ).alias("resid_var"),
            (mean / overall).alias("seasonal_index"),
        )
    )


W16_ORACLE = """
WITH hourly AS (
  SELECT event_type, CAST(ts AS DATE) AS day, hour(ts) AS hod,
         count(*) AS cnt
  FROM events GROUP BY 1, 2, 3
), cells AS (
  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n_obs,
         CAST(sum(cnt) AS BIGINT) AS s1,
         CAST(sum(cnt * cnt) AS BIGINT) AS s2
  FROM hourly GROUP BY 1, 2
), typ AS (
  SELECT event_type, CAST(sum(s1) AS BIGINT) AS tot,
         CAST(sum(n_obs) AS BIGINT) AS ncells
  FROM cells GROUP BY 1
)
SELECT c.event_type, c.hod, c.n_obs,
       CAST(s1 AS DOUBLE) / CAST(n_obs AS DOUBLE) AS seasonal_mean,
       CAST(s2 AS DOUBLE) / CAST(n_obs AS DOUBLE)
         - (CAST(s1 AS DOUBLE) / CAST(n_obs AS DOUBLE))
           * (CAST(s1 AS DOUBLE) / CAST(n_obs AS DOUBLE)) AS resid_var,
       (CAST(s1 AS DOUBLE) / CAST(n_obs AS DOUBLE))
         / (CAST(tot AS DOUBLE) / CAST(ncells AS DOUBLE)) AS seasonal_index
FROM cells c JOIN typ t ON c.event_type = t.event_type
"""


ACF_MAX_LAG = 6


def w19_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W19 (extension): autocorrelation function of the hourly revenue
    series at lags 1..{ACF_MAX_LAG} — the seasonality fingerprint a
    forecasting pipeline reads before choosing model structure (is there
    a daily cycle? how fast does memory decay?). ACF here is the sample
    Pearson r between the series and its lag-k shift over all hour pairs
    where BOTH ends exist (gap-aware; missing hours drop the pair on
    both engines identically).

    Determinism (the a21 exact-comoment pattern): hourly revenue sums
    are exact DECIMAL; each lag's co-moments (Σx, Σy, Σx², Σy², Σxy)
    accumulate in DECIMAL(38,4) — order-insensitive under any
    parallelism — and the float algebra is confined to the final
    Pearson formula, every op deterministic and mirrored verbatim in
    the oracle (decimal→double via the exact digit string).

    Scale: one hourly aggregate over the scan, then a self-equi-join of
    the TINY aggregated series against its explode×{ACF_MAX_LAG}
    shifted copy and a {ACF_MAX_LAG}-row co-moment aggregate — cost
    lives in the first groupBy; everything after is series-sized, not
    event-sized."""
    events = read_table(spark, sf_dir, "events")
    dec = "decimal(38,4)"
    # hourly sums re-cast to DECIMAL(18,2) (lossless: hourly revenue is
    # far below 16 digits) so the co-moment products land in the exact
    # DECIMAL(37,4) — two 38-wide operands would overflow the product
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("x")
    )
    shifted = hourly.select(
        F.explode(F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))).alias("lag"),
        F.col("hour"),
        F.col("x").alias("y"),
    ).withColumn("hour", F.col("hour") + F.expr("make_interval(0,0,0,0,lag)"))
    pairs = hourly.join(shifted, "hour")
    agg = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.col("x").cast(dec)).cast(dec).alias("s_x"),
        F.sum(F.col("y").cast(dec)).cast(dec).alias("s_y"),
        F.sum(F.col("x") * F.col("x")).cast(dec).alias("ss_x"),
        F.sum(F.col("y") * F.col("y")).cast(dec).alias("ss_y"),
        F.sum(F.col("x") * F.col("y")).cast(dec).alias("sp_xy"),
    )

    def d(name: str):
        return F.col(name).cast("string").cast("double")

    n = F.col("n_pairs").cast("double")
    r = (n * d("sp_xy") - d("s_x") * d("s_y")) / (
        F.sqrt(n * d("ss_x") - d("s_x") * d("s_x"))
        * F.sqrt(n * d("ss_y") - d("s_y") * d("s_y"))
    )
    return agg.select(
        F.col("lag").cast("int").alias("lag"), "n_pairs", r.alias("acf")
    )


W19_ORACLE = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
  FROM events GROUP BY 1
), pairs AS (
  SELECT l.lag, h.x AS x, s.x AS y
  FROM hourly h
  JOIN (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag) l ON TRUE
  JOIN hourly s ON s.hour + to_hours(l.lag) = h.hour
), m AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CAST(x AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS s_x,
         CAST(sum(CAST(y AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS s_y,
         CAST(sum(x * x) AS DECIMAL(38,4)) AS ss_x,
         CAST(sum(y * y) AS DECIMAL(38,4)) AS ss_y,
         CAST(sum(x * y) AS DECIMAL(38,4)) AS sp_xy
  FROM pairs GROUP BY 1
)
SELECT CAST(lag AS INTEGER) AS lag, n_pairs,
  (CAST(n_pairs AS DOUBLE) * CAST(CAST(sp_xy AS VARCHAR) AS DOUBLE)
     - CAST(CAST(s_x AS VARCHAR) AS DOUBLE) * CAST(CAST(s_y AS VARCHAR) AS DOUBLE))
  / (sqrt(CAST(n_pairs AS DOUBLE) * CAST(CAST(ss_x AS VARCHAR) AS DOUBLE)
            - CAST(CAST(s_x AS VARCHAR) AS DOUBLE) * CAST(CAST(s_x AS VARCHAR) AS DOUBLE))
     * sqrt(CAST(n_pairs AS DOUBLE) * CAST(CAST(ss_y AS VARCHAR) AS DOUBLE)
            - CAST(CAST(s_y AS VARCHAR) AS DOUBLE) * CAST(CAST(s_y AS VARCHAR) AS DOUBLE)))
  AS acf
FROM m
"""


def w20_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W20 (extension): last-touch conversion attribution — every
    purchase event credited to the user's most recent PRIOR touch
    (click or view), with the touch type and the conversion lag in
    minutes: the marketing/product analytics query behind every
    "what drove this conversion" dashboard. Purchases with no prior
    touch surface with NULL attribution (direct conversions) rather
    than being dropped.

    Determinism: the per-user event stream is totally ordered by
    (ts, event_id) so `last(..., ignorenulls)` over the
    unbounded-preceding frame is unambiguous even under timestamp
    ties; the lag is an exact microsecond difference with ONE double
    division.

    Scale: one user-keyed window over the event scan — the same
    shuffle any sessionization pays; no self-join, no per-user
    collect."""
    events = read_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view")
    attributed = events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("touch_event_id"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    return attributed.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        "touch_event_id",
        "touch_type",
        (
            (F.unix_micros("ts") - F.unix_micros("touch_ts")).cast("double")
            / 60_000_000.0
        ).alias("gap_minutes"),
    )


W20_ORACLE = """
WITH attributed AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_event_id,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_type,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_ts
  FROM events
)
SELECT event_id AS purchase_event_id, user_id, touch_event_id, touch_type,
       CAST(epoch_us(ts) - epoch_us(touch_ts) AS DOUBLE) / 60000000.0
         AS gap_minutes
FROM attributed WHERE event_type = 'purchase'
"""


def w21_rolling_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W21 (extension): trailing 7-OBSERVED-DAY EXACT rolling p90 of
    daily revenue — the percentile-band monitoring line a revenue
    dashboard draws (rolling mean hides spikes; a rolling quantile does
    not). The frame is ROWS BETWEEN 6 PRECEDING over the daily series,
    i.e. the last 7 days THAT HAD ORDERS, not 7 calendar days: the
    generated series has gaps (~1.1K distinct days over a ~2.4K-day
    span at sf0.001), so a band can span ~15 calendar days — the
    st_event_rate_alerts observed-window semantics, chosen so the band
    width (and the statistic's sample size) stays constant through
    quiet periods. For strict calendar-day semantics, densify with the
    o3/w5 date-spine pattern first and keep the same frame.
    Spark has no percentile window function, so the 7-value frame is
    collected per row, sorted, and linearly interpolated with the SAME
    lo + (hi−lo)·frac arithmetic as a11/QUANTILE_CONT, on exact integer
    cents — both engines fold identical doubles. The frame is ≤7 values,
    so the collect is constant-size per row.

    Scale: the window runs over the DAY-CARDINALITY pre-aggregate (one
    row per calendar day — ~2.4K rows for 7 years), never row-scale; the
    one shuffle is the daily rollup."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    w = W.orderBy("day").rowsBetween(-6, 0)
    arr = F.sort_array(F.collect_list("cents").over(w))
    n = F.size(arr)
    idx = F.lit(0.9) * (n - 1).cast("double")
    lo = F.floor(idx).cast("int")
    hi = F.ceil(idx).cast("int")
    frac = idx - lo.cast("double")
    p90_cents = (
        F.element_at(arr, lo + 1).cast("double")
        + (
            F.element_at(arr, hi + 1).cast("double")
            - F.element_at(arr, lo + 1).cast("double")
        )
        * frac
    )
    scored = daily.select(
        "day",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        (p90_cents / 100.0).alias("p90_7d"),
        n.cast("bigint").alias("n_window_days"),
    )
    return scored.withColumn(
        "above_p90", F.col("revenue") > F.col("p90_7d")
    )


W21_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), framed AS (
  SELECT day, cents,
         list_sort(list(cents) OVER (ORDER BY day
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
  FROM daily
), scored AS (
  SELECT day, cents, arr, len(arr) AS n,
         0.9 * CAST(len(arr) - 1 AS DOUBLE) AS idx
  FROM framed
)
SELECT day,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       (CAST(arr[CAST(floor(idx) AS INTEGER) + 1] AS DOUBLE)
        + (CAST(arr[CAST(ceil(idx) AS INTEGER) + 1] AS DOUBLE)
           - CAST(arr[CAST(floor(idx) AS INTEGER) + 1] AS DOUBLE))
          * (idx - CAST(floor(idx) AS DOUBLE))) / 100.0 AS p90_7d,
       CAST(n AS BIGINT) AS n_window_days,
       CAST(cents AS DOUBLE) / 100.0
         > (CAST(arr[CAST(floor(idx) AS INTEGER) + 1] AS DOUBLE)
            + (CAST(arr[CAST(ceil(idx) AS INTEGER) + 1] AS DOUBLE)
               - CAST(arr[CAST(floor(idx) AS INTEGER) + 1] AS DOUBLE))
              * (idx - CAST(floor(idx) AS DOUBLE))) / 100.0 AS above_p90
FROM scored
"""


def w22_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W22 (extension): month-over-month and year-over-year revenue
    deltas — the classic BI period-comparison table (the one report
    every finance dashboard opens with), from exact integer-cent
    monthly sums with lag(1) and lag(12) over the month-cardinality
    aggregate. Change ratios are single double divisions of exact
    integers — bit-stable; months without a comparison period carry
    NULLs (try-divide semantics).

    Scale: one monthly rollup shuffle; the window runs over ~84 rows
    (month cardinality), never row-scale."""
    orders = read_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    w = W.orderBy("month")
    prev = F.lag("cents", 1).over(w)
    yoy = F.lag("cents", 12).over(w)
    return monthly.select(
        "month",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        F.try_divide(
            (F.col("cents") - prev).cast("double"), prev.cast("double")
        ).alias("mom_change"),
        F.try_divide(
            (F.col("cents") - yoy).cast("double"), yoy.cast("double")
        ).alias("yoy_change"),
    )


W22_ORACLE = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), lagged AS (
  SELECT month, cents,
         lag(cents, 1) OVER (ORDER BY month) AS prev,
         lag(cents, 12) OVER (ORDER BY month) AS yoy
  FROM monthly
)
SELECT month,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CAST(cents - prev AS DOUBLE) / CAST(prev AS DOUBLE) AS mom_change,
       CAST(cents - yoy AS DOUBLE) / CAST(yoy AS DOUBLE) AS yoy_change
FROM lagged
"""


QUERIES = {
    "w1_topk_per_group": w1_topk_per_group,
    "w2_window_suite": w2_window_suite,
    "w3_time_range_window": w3_time_range_window,
    "w5_gapfill_resample": w5_gapfill_resample,
    "w6_forward_fill": w6_forward_fill,
    "w7_event_funnel": w7_event_funnel,
    "w8_rolling_anomaly": w8_rolling_anomaly,
    "w4_scd2_history": w4_scd2_history,
    "w9_cohort_retention": w9_cohort_retention,
    "w10_markov_transitions": w10_markov_transitions,
    "w11_rank_suite": w11_rank_suite,
    "w12_ewma_smoothing": w12_ewma_smoothing,
    "w13_activity_bitmap": w13_activity_bitmap,
    "w14_holt_forecast": w14_holt_forecast,
    "w17_holt_winters": w17_holt_winters,
    "w18_anomaly_ensemble": w18_anomaly_ensemble,
    "w15_changepoint_cusum": w15_changepoint_cusum,
    "w16_seasonal_decompose": w16_seasonal_decompose,
    "w19_autocorrelation": w19_autocorrelation,
    "w20_attribution": w20_attribution,
    "w21_rolling_quantile": w21_rolling_quantile,
    "w22_period_over_period": w22_period_over_period,
}

ORACLES = {
    "w1_topk_per_group": W1_ORACLE,
    "w2_window_suite": W2_ORACLE,
    "w3_time_range_window": W3_ORACLE,
    "w5_gapfill_resample": W5_ORACLE,
    "w6_forward_fill": W6_ORACLE,
    "w7_event_funnel": W7_ORACLE,
    "w8_rolling_anomaly": W8_ORACLE,
    "w4_scd2_history": W4_ORACLE,
    "w9_cohort_retention": W9_ORACLE,
    "w10_markov_transitions": W10_ORACLE,
    "w11_rank_suite": W11_ORACLE,
    "w12_ewma_smoothing": W12_ORACLE,
    "w13_activity_bitmap": W13_ORACLE,
    "w14_holt_forecast": W14_ORACLE,
    "w17_holt_winters": W17_ORACLE,
    "w18_anomaly_ensemble": W18_ORACLE,
    "w15_changepoint_cusum": W15_ORACLE,
    "w16_seasonal_decompose": W16_ORACLE,
    "w19_autocorrelation": W19_ORACLE,
    "w20_attribution": W20_ORACLE,
    "w21_rolling_quantile": W21_ORACLE,
    "w22_period_over_period": W22_ORACLE,
}
