"""Round-14 optimization equality tests.

Every optimization that adds a bounded driver-side fast path must prove
bit-equality with the plan-side shape it replaces (the r13 posture:
curation CC, g4 LPA, quantiles)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from us_dot_flights_lakehouse_spark.queries import sim_q
from us_dot_flights_lakehouse_spark.queries.sim_q import _kcenter_driver, _kcenter_scan


def test_kcenter_driver_equals_distributed(spark):
    """Random corpora with deliberately tie-heavy integer coordinates
    (equal max distances force the vec_id tie-break) and irrational
    float coordinates (exercise the exact fold order)."""
    rng = np.random.default_rng(14)
    for trial in range(4):
        n = int(rng.integers(8, 26))
        dim = int(rng.integers(2, 9))
        k = int(rng.integers(3, min(8, n) + 1))
        if trial % 2 == 0:
            V = rng.integers(-2, 3, size=(n, dim)).astype("float64")
        else:
            V = rng.standard_normal((n, dim)) * 10
        ids = rng.permutation(1000)[:n].astype("int64")
        tbl = pa.table(
            {"vec_id": pa.array(ids), "v": pa.array(list(V))}
        )
        got = _kcenter_driver(tbl, k)
        assert got is not None
        rows = [(int(i), [float(x) for x in row]) for i, row in zip(ids, V)]
        want = _kcenter_scan(
            spark.createDataFrame(rows, "vec_id long, v array<double>"), k
        )
        assert got == want, f"trial {trial}: {got} != {want}"


def test_kcenter_forced_cap_matches_driver_path(spark, monkeypatch):
    """Over KCENTER_DRIVER_MAX_ROWS the query takes the k-scan path; it
    must return the same rows as the driver path on the same corpus."""
    rng = np.random.default_rng(3)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(4)])
        for i in rng.permutation(500)[:20]
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for name in ("read_table", "read_corpus"):
        monkeypatch.setattr(
            sim_q, name, lambda s, d, n: emb
        )
    scans = []
    monkeypatch.setattr(
        sim_q, "_kcenter_scan", lambda c, k: scans.append(k) or _kcenter_scan(c, k)
    )
    driver = sim_q.sim_kcenter_diversity(spark, "x").collect()
    assert scans == []
    monkeypatch.setattr(sim_q, "KCENTER_DRIVER_MAX_ROWS", 0)
    forced = sim_q.sim_kcenter_diversity(spark, "x").collect()
    assert scans == [sim_q.KCENTER_K]
    assert forced == driver


def test_w8_bucket_shorter_than_24_hours(spark, monkeypatch):
    """w8's kernel on buckets with fewer than 24 gap-filled hours: the
    lag gather must stay in range, and every window is the user prefix
    (one user per bucket here: user_id mod 64 differs)."""
    import datetime as dt

    from us_dot_flights_lakehouse_spark.queries import window_q

    h0 = dt.datetime(2024, 1, 1, 5)
    events = spark.createDataFrame(
        [
            (1, h0, 1.0),
            (1, h0 + dt.timedelta(hours=2), 3.0),
            (2, h0, 2.5),
        ],
        "user_id long, ts timestamp, value double",
    )
    monkeypatch.setattr(
        window_q, "read_table",
        lambda s, d, n: events,
    )
    got = sorted(
        (r["user_id"], r["hour"], r["total_value"], r["mean_24h"])
        for r in window_q.w8_rolling_anomaly(spark, "x").collect()
    )
    assert [g[0] for g in got] == [1, 1, 1, 2]
    assert [g[1] for g in got] == [
        h0, h0 + dt.timedelta(hours=1), h0 + dt.timedelta(hours=2), h0
    ]
    assert [g[2] for g in got] == [1.0, 0.0, 3.0, 2.5]
    assert [g[3] for g in got] == [1.0, 0.5, 4.0 / 3, 2.5]


def test_kcenter_driver_fallback_preconditions():
    """NaN values, ragged vectors, NULL cells and duplicate ids must all
    return None (→ the query keeps its plan-side shape)."""
    good_v = [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]
    base_ids = pa.array([1, 2, 3], type=pa.int64())
    nan_v = [[1.0, float("nan")], [3.0, 4.0], [5.0, 6.0]]
    assert _kcenter_driver(pa.table({"vec_id": base_ids, "v": nan_v}), 2) is None
    ragged = [[1.0], [3.0, 4.0], [5.0, 6.0]]
    assert _kcenter_driver(pa.table({"vec_id": base_ids, "v": ragged}), 2) is None
    withnull = pa.table(
        {"vec_id": base_ids, "v": pa.array([None, [3.0, 4.0], [5.0, 6.0]],
                                           type=pa.list_(pa.float64()))}
    )
    assert _kcenter_driver(withnull, 2) is None
    dup = pa.table(
        {"vec_id": pa.array([1, 1, 3], type=pa.int64()), "v": good_v}
    )
    assert _kcenter_driver(dup, 2) is None
    # fewer rows than k: the replica refuses rather than diverging from
    # the plan-side crash
    small = pa.table({"vec_id": base_ids, "v": good_v})
    assert _kcenter_driver(small, 5) is None


def test_histogram_input_pregate_skips_collection(spark, monkeypatch):
    """ADVICE r13: over the estimated-input-bytes gate the histogram path
    must bail WITHOUT running the aggregate (no wasted 100 TB pass)."""
    from us_dot_flights_lakehouse_spark.operators import quantiles as q

    df = spark.range(1000).select(
        F.lit("g").alias("g"), F.col("id").cast("double").alias("v")
    )
    assert q.collect_value_histogram(df, ["g"], ["v"]) is not None
    monkeypatch.setattr(q, "DRIVER_HIST_MAX_INPUT_BYTES", 0)
    calls = []
    monkeypatch.setattr(
        df.__class__, "groupBy",
        lambda self, *a, **k: calls.append(1) or pytest.fail(
            "aggregate built despite the pre-gate"
        ),
    )
    assert q.collect_value_histogram(df, ["g"], ["v"]) is None
    assert not calls
