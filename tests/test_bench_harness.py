"""The r2 round lost its entire perf signal because bench.py had no
per-query fault isolation — one NameError killed the run. These tests pin
the harness contract itself."""

import json
import subprocess
import sys


def test_bench_isolates_query_failures(tmp_path, monkeypatch):
    """A registry with one broken query must still produce a parseable
    JSON line, an ERR marker, and timings for the healthy queries."""
    import bench
    from pyspark.sql import functions as F

    def fake_queries():
        return {
            "ok_one": lambda spark, sf: spark.range(10).select(F.col("id")),
            "broken": lambda spark, sf: (_ for _ in ()).throw(
                NameError("name 'n' is not defined")
            ),
            "ok_two": lambda spark, sf: spark.range(5).select((F.col("id") * 2).alias("x")),
        }

    monkeypatch.setattr(bench.registry, "queries", fake_queries)
    monkeypatch.setenv("BENCH_REPS", "1")
    # keep the file mirror out of the repo root — a real bench_out.json from a
    # driver run must not be clobbered with these fake-query timings
    monkeypatch.setenv("BENCH_OUT", str(tmp_path / "bench_out.json"))
    printed = []
    monkeypatch.setattr("builtins.print", lambda s: printed.append(s))
    stopped = {}
    import us_dot_flights_lakehouse_spark.session as sess

    real_get = sess.get_spark

    def keep_alive(*a, **k):
        spark = real_get(*a, **k)
        stopped["spark"] = spark
        spark.stop = lambda: None  # session is shared with other tests
        return spark

    monkeypatch.setattr(bench, "get_spark", keep_alive)
    bench.main()
    # stdout contract (VERDICT r4 item 3): every line is parseable JSON;
    # the LAST line is a compact clip-proof summary; before it come one
    # terse {"q","s"} line per query, the full result dict, and the
    # per-query timings again in {"qchunk","of","t"} lines.
    lines = [json.loads(s) for s in printed]
    compact = lines[-1]
    assert compact["metric"] == "sum_median_sec_all_queries"
    assert compact["value"] > 0
    assert compact["n_queries"] == 3
    assert compact["n_err"] == 1
    assert len(json.dumps(compact)) < 400
    (out,) = [d for d in lines[:-1] if "queries" in d and "metric" in d]
    assert out["queries"]["broken"] == "ERR"
    assert "NameError" in out["errors"]["broken"]
    assert isinstance(out["queries"]["ok_one"], float)
    assert isinstance(out["queries"]["ok_two"], float)
    assert out["value"] > 0
    perq = {d["q"]: d["s"] for d in lines if "q" in d}
    assert perq == out["queries"]
    chunks = [d for d in lines if "qchunk" in d]
    assert chunks and all(d["of"] == len(chunks) for d in chunks)
    assert {n: t for d in chunks for n, t in d["t"].items()} == out["queries"]


def test_load_anchors_parses_baseline_table():
    """The auto-retime pass is only as good as its anchor parse: the
    generated ANCHOR_TABLE block must yield one float per catalog query."""
    import bench

    anchors = bench.load_anchors()
    assert len(anchors) >= 300
    assert all(isinstance(v, float) and v > 0 for v in anchors.values())
    assert "a40_kmv_distinct_sketch" in anchors


def test_adjudicated_total_substitutes_isolated_times():
    """The contention-corrected headline must swap each retimed
    outlier's in-bench reading for min(in_bench, isolated), keep the
    in-bench number when the re-time errored (fail conservative), and
    skip ERR entries like the raw total does."""
    import bench

    timings = {"a": 1.0, "b": 2.0, "c": "ERR", "d": 3.0}
    retimed = {
        "b": {"in_bench": 2.0, "isolated": 0.5, "anchor": 0.4,
              "isolated_ratio": 1.25},
        "d": {"in_bench": 3.0, "anchor": 0.4, "err": "Boom"},
    }
    assert bench.adjudicated_total(timings, retimed) == 4.5
    # no outliers -> identical to the raw float sum
    assert bench.adjudicated_total(timings, {}) == 6.0


def test_adjudicated_total_keeps_min_when_retime_box_is_contended():
    """Both readings are upper bounds on the query's true cost, so the
    adjudicated sum must take min(in_bench, isolated): an isolated
    reading ABOVE the in-bench one means the retime pass itself hit a
    busier box, and taking it at face value would make adjudication
    WORSE than the raw sum (VERDICT r12 'What's wrong' #2)."""
    import bench

    timings = {"a": 1.0, "b": 2.0}
    retimed = {
        "b": {"in_bench": 2.0, "isolated": 3.5, "anchor": 1.0,
              "isolated_ratio": 3.5, "contended": True},
    }
    assert bench.adjudicated_total(timings, retimed) == 3.0


def test_retime_records_carry_contention_evidence(spark):
    """Every retime record must stamp box-load evidence (1-min loadavg +
    spin probe) and a contended flag (isolated > in_bench), so the
    artifact's residual-outlier list is self-explaining without a
    judge-side re-measurement (VERDICT r12 item 6)."""
    import os

    import bench
    from pyspark.sql import functions as F

    qs = {"slow_q": lambda s, sf: s.range(100).select(F.col("id"))}
    timings = {"slow_q": 10.0}
    os.environ["RETIME_REPS"] = "1"
    try:
        out = bench.retime_outliers(spark, qs, "unused", timings, {"slow_q": 1.0})
    finally:
        del os.environ["RETIME_REPS"]
    rec = out["slow_q"]
    # a range(100) noop-write re-times far under the fake 10.0s in-bench
    assert rec["contended"] is False
    assert rec["loadavg_1m"] >= 0.0
    assert rec["spin_ms"] > 0.0


def test_retime_outliers_adjudicates_only_above_threshold(spark):
    """Queries reading >1.5x their anchor get an isolated median re-time
    recorded next to the in-bench number; at-or-below-threshold and
    anchorless queries are left alone (VERDICT r11 item 2)."""
    import bench
    from pyspark.sql import functions as F

    qs = {
        "slow_q": lambda s, sf: s.range(100).select(F.col("id")),
        "fine_q": lambda s, sf: s.range(100).select(F.col("id")),
        "new_q": lambda s, sf: s.range(100).select(F.col("id")),
    }
    timings = {"slow_q": 10.0, "fine_q": 1.0, "new_q": 10.0, "err_q": "ERR"}
    anchors = {"slow_q": 1.0, "fine_q": 1.0}  # new_q unanchored
    import os

    os.environ["RETIME_REPS"] = "1"
    try:
        out = bench.retime_outliers(spark, qs, "unused_sf_dir", timings, anchors)
    finally:
        del os.environ["RETIME_REPS"]
    assert set(out) == {"slow_q"}
    rec = out["slow_q"]
    assert rec["in_bench"] == 10.0
    assert rec["anchor"] == 1.0
    assert isinstance(rec["isolated"], float)
    assert rec["isolated_ratio"] == round(rec["isolated"] / 1.0, 3)


def test_load_anchors_skips_foreign_scale_factor():
    """Anchors are sf0.1 numbers; a run at any other sf must get {} so
    the retime pass never adjudicates against meaningless ratios."""
    import bench

    assert bench.load_anchors(0.001) == {}
    assert len(bench.load_anchors(0.1)) >= 300
    assert len(bench.load_anchors(None)) >= 300


def test_retime_outliers_respects_noise_floor(spark):
    """Ratio alone must not trigger adjudication: a 0.1s-anchor query at
    0.18s is ratio 1.8 but sub-noise — only readings that also exceed
    the absolute delta floor get re-timed."""
    import bench
    from pyspark.sql import functions as F

    qs = {"tiny_q": lambda s, sf: s.range(10).select(F.col("id"))}
    timings = {"tiny_q": 0.18}
    anchors = {"tiny_q": 0.1}
    out = bench.retime_outliers(spark, qs, "unused", timings, anchors)
    assert out == {}


def test_load_anchors_skips_zero_and_malformed_cells(tmp_path):
    """The generated table's :.2f formatting can emit '0.00' for a
    sub-5ms median, and a corrupted cell like '1.2.3' survives the
    numeric regex: both must be skipped (a zero anchor would make every
    ratio infinite and the adjudication division crash the run's
    artifact; a ValueError would kill it outright)."""
    import bench

    fake = tmp_path / "BASELINE.md"
    fake.write_text(
        "<!-- ANCHOR_TABLE_BEGIN -->\n"
        "2 queries, sum 1.0 s (sf=0.1).\n\n"
        "| query | anchor s | query | anchor s |\n"
        "|---|---|---|---|\n"
        "| good_q | 1.23 | zero_q | 0.00 |\n"
        "| bad_q | 1.2.3 | dot_q | . |\n"
        "<!-- ANCHOR_TABLE_END -->\n"
    )
    anchors = bench.load_anchors(0.1, path=str(fake))
    assert anchors == {"good_q": 1.23}
