"""Unit tests for the round-7 operators: drift suite closed forms on a
hand-computable fixture, salted-join equivalence, systematic-sample
spacing, XML fidelity on hostile characters, rate-alert spike planting,
and g5 pair invariants.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from us_dot_flights_lakehouse_spark.queries import agg_q, audit_q, funcs_q, join_q, window_q
from us_dot_flights_lakehouse_spark.queries import streaming as qst


@pytest.fixture(scope="module")
def tiny_orders_dir(spark, tmp_path_factory):
    """Orders fixture with a hand-computable drift: before-cutoff prices
    {10.00, 20.00}, after-cutoff {20.00, 30.00} (a +10 dollar shift)."""
    d = str(tmp_path_factory.mktemp("tiny_orders"))
    rows = [
        (1, 1, "O", 10.00, "1995-06-01", "1-URGENT"),
        (2, 1, "O", 20.00, "1995-06-02", "1-URGENT"),
        (3, 1, "F", 20.00, "1999-06-01", "1-URGENT"),
        (4, 1, "F", 30.00, "1999-06-02", "1-URGENT"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    return d


def test_a31_ks_closed_form(spark, tiny_orders_dir):
    row = agg_q.a31_ks_drift(spark, tiny_orders_dir).collect()[0]
    assert (row["n1"], row["n2"]) == (2, 2)
    # CDF gap peaks at 2/4 = 0.5 (at price 10.00 and 20.00; argmax is
    # the smallest price among ties by the query's tie-break)
    assert row["ks_stat"] == pytest.approx(0.5)


def test_a32_wasserstein_closed_form(spark, tiny_orders_dir):
    row = agg_q.a32_wasserstein_drift(spark, tiny_orders_dir).collect()[0]
    assert (row["n1"], row["n2"]) == (2, 2)
    # a clean +10 dollar location shift has earth-mover distance 10
    assert row["w1_distance"] == pytest.approx(10.0)


def test_a33_welch_closed_form(spark, tiny_orders_dir):
    row = agg_q.a33_welch_t_drift(spark, tiny_orders_dir).collect()[0]
    assert (row["mean_before"], row["mean_after"]) == (15.0, 25.0)
    assert row["var_before"] == pytest.approx(50.0)
    assert row["var_after"] == pytest.approx(50.0)
    assert row["t_stat"] == pytest.approx(-math.sqrt(2.0))
    assert row["welch_dof"] == pytest.approx(2.0)


def test_j18_salted_equals_plain_join(spark, sf_small):
    """The salted rollup must equal the plain-join rollup exactly."""
    events = spark.read.parquet(f"{sf_small}/events.parquet")
    profiles = events.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("user_total_events")
    )
    plain = (
        events.join(profiles, "user_id")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("user_total_events").cast("bigint").alias("sum_user_totals"),
        )
    )
    got = {
        r["event_type"]: (r["n_events"], r["sum_user_totals"])
        for r in join_q.j18_salted_skew_join(spark, sf_small).collect()
    }
    want = {
        r["event_type"]: (r["n_events"], r["sum_user_totals"])
        for r in plain.collect()
    }
    assert got == want


def test_o10_systematic_spacing(spark, sf_small):
    rows = funcs_q.o10_systematic_sample(spark, sf_small).collect()
    n = spark.read.parquet(f"{sf_small}/orders.parquet").count()
    assert len(rows) == (n + funcs_q.O10_EVERY_K - 1) // funcs_q.O10_EVERY_K
    assert all(r["rank"] % funcs_q.O10_EVERY_K == 0 for r in rows)
    # evenly spaced over the sort order: ranks are 0, K, 2K, ...
    assert sorted(r["rank"] for r in rows) == [
        i * funcs_q.O10_EVERY_K for i in range(len(rows))
    ]


def test_g5_pair_invariants(spark, sf_small):
    rows = join_q.g5_neighbor_overlap(spark, sf_small).collect()
    assert rows, "g5 returned no pairs at sf0.001"
    for r in rows:
        assert r["supp_a"] < r["supp_b"]
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["n_shared"] <= min(r["deg_a"], r["deg_b"])


def test_src_xml_fidelity_on_hostile_text(spark, tmp_path):
    """XML escaping must round-trip &, <, >, quotes, and newlines."""
    hostile = 'a & b < c > d "q" \'s\'\nnew&amp;line <tag/>'
    df = spark.createDataFrame(
        [(1, hostile, "en", "web", len(hostile))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "x")
    df.write.format("xml").option("rootTag", "docs").option(
        "rowTag", "doc"
    ).mode("overwrite").save(d)
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(df.schema)
        .load(d)
        .collect()[0]
    )
    assert back["text"] == hostile


def test_st_rate_alerts_planted_spike(spark, tmp_path):
    """6 calm hours at 2 events/h then one 10-event hour: only the spike
    hour (and nothing in the warmup) is flagged."""
    rows = []
    eid = 0
    for h in range(6):
        for _ in range(2):
            rows.append((eid, f"2024-01-01 {h:02d}:15:00", 1, "click", 1.0, "{}"))
            eid += 1
    for _ in range(10):
        rows.append((eid, "2024-01-01 06:30:00", 1, "click", 1.0, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {
        r["window_start"].hour: r
        for r in qst.st_event_rate_alerts(spark, d).collect()
    }
    assert out[6]["is_spike"] is True
    assert out[6]["trailing_mean"] == pytest.approx(2.0)
    assert all(not out[h]["is_spike"] for h in range(6))
    # first window has no history -> NULL baseline, never a spike
    assert out[0]["trailing_mean"] is None


def test_x10_dynamic_partition_pruning_plan(spark, sf_small):
    """The fact scan must carry a dynamicpruning PartitionFilter fed by
    the dim subquery — the mechanism the query exists to exercise."""
    plan = (
        audit_q.x10_partition_pruned_scan(spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower()
    assert "PartitionFilters" in plan


def test_dd_incremental_span_probe_bounds(spark, sf_small):
    """hist_share in [0,1]; exact cross-cutoff duplicates score 1.0."""
    from us_dot_flights_lakehouse_spark.queries.dedup_q import dd_incremental_span_probe

    rows = dd_incremental_span_probe(spark, sf_small).collect()
    assert rows
    assert all(0.0 <= r["hist_share"] <= 1.0 for r in rows)
    assert any(r["boilerplate_from_history"] for r in rows)
    assert any(not r["boilerplate_from_history"] for r in rows)


def test_a35_decile_table_shape(spark, sf_small):
    rows = {r["decile"]: r for r in agg_q.a35_quantile_drift(spark, sf_small).collect()}
    assert sorted(rows) == list(range(1, 10))
    # quantiles are monotone within each sample
    qb = [rows[i]["q_before"] for i in range(1, 10)]
    qa = [rows[i]["q_after"] for i in range(1, 10)]
    assert qb == sorted(qb) and qa == sorted(qa)
    assert all(rows[i]["gap"] == rows[i]["q_after"] - rows[i]["q_before"] for i in rows)


def test_w21_band_bounds(spark, sf_small):
    """p90 of a trailing window lies within that window's min/max —
    verified on the first 7 days where the window is the full prefix."""
    rows = sorted(
        window_q.w21_rolling_quantile(spark, sf_small).collect(),
        key=lambda r: r["day"],
    )
    prefix = [r["revenue"] for r in rows[:7]]
    for i, r in enumerate(rows[:7]):
        window = prefix[: i + 1]
        assert min(window) - 1e-9 <= r["p90_7d"] <= max(window) + 1e-9
        assert r["n_window_days"] == i + 1


def test_ts_code_detect_flags_code(spark):
    """A code-looking doc trips the verdict; plain prose does not."""
    from us_dot_flights_lakehouse_spark.queries import text_q

    code = "def f(x):\n    y = x + 1;\n    return {x: [y]};\n" * 3
    prose = "The quick brown fox jumps over the lazy dog. " * 10
    df = spark.createDataFrame(
        [(1, code, "en", "gh", len(code)), (2, prose, "en", "web", len(prose))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.createOrReplaceTempView("_code_probe")
    # drive the same expressions through the query body via a tmp dir
    import tempfile

    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in text_q.ts_code_detect(spark, d).collect()}
    assert out[1]["is_codelike"] is True
    assert out[2]["is_codelike"] is False
