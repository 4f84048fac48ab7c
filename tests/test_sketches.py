"""KLL sketch kernel + Spark wiring tests (operators/sketches.py).

Pins the module's load-bearing claim: the tracked ``err`` is a HARD
worst-case rank bound — for any target rank t, the returned value v
satisfies ``count(x < v) <= t - 1 + err`` and ``count(x <= v) >= t - err``
over the true multiset — across extend, merge, and serialize paths
(VERDICT r8 item 1; the a38/w23 oracle booleans assume exactly this).
"""

from __future__ import annotations

import random
from bisect import bisect_left, bisect_right

import pytest

from us_dot_flights_lakehouse_spark.operators.sketches import (
    kll_dumps,
    kll_extend,
    kll_loads,
    kll_merge,
    kll_new,
    kll_query,
    make_mg_merger,
    make_mg_partial_builder,
    make_partial_builder,
    make_sketch_merger,
    mg_dumps,
    mg_loads,
    mg_merge,
    mg_new,
    mg_update,
)


def _assert_rank_bound(sk: dict, values: list[int]) -> None:
    ordered = sorted(values)
    n = len(ordered)
    assert sk["n"] == n, "row-count conservation violated"
    targets = sorted({1, n // 4 or 1, n // 2 or 1, (3 * n) // 4 or 1, n})
    for t in targets:
        v = kll_query(sk, t)
        lt = bisect_left(ordered, v)
        le = bisect_right(ordered, v)
        assert lt <= t - 1 + sk["err"], (
            f"count(x<{v})={lt} > t-1+err={t - 1 + sk['err']}"
        )
        assert le >= t - sk["err"], (
            f"count(x<={v})={le} < t-err={t - sk['err']}"
        )


def _weight(sk: dict) -> int:
    return sum(len(buf) << lvl for lvl, buf in enumerate(sk["levels"]))


@pytest.mark.parametrize("k", [8, 32, 200])
@pytest.mark.parametrize(
    "dist",
    ["uniform", "zipf_dupes", "sorted_runs", "constant"],
)
def test_err_bound_extend(k: int, dist: str):
    rng = random.Random(42)
    n = 5000
    if dist == "uniform":
        values = [rng.randrange(10**9) for _ in range(n)]
    elif dist == "zipf_dupes":
        values = [rng.randrange(1, 50) ** 3 for _ in range(n)]
    elif dist == "sorted_runs":
        values = sorted(rng.randrange(10**6) for _ in range(n))
    else:
        values = [7] * n
    sk = kll_new(k)
    for i in range(0, n, 977):  # uneven batches exercise mid-buffer state
        kll_extend(sk, values[i : i + 977])
    assert _weight(sk) == n, "level-weight conservation violated"
    _assert_rank_bound(sk, values)
    # the bound must be USEFUL at k=200, not just true: err << n
    if k == 200:
        assert sk["err"] < n // 10


@pytest.mark.parametrize("k", [8, 64])
def test_err_bound_merge(k: int):
    rng = random.Random(7)
    parts = [
        [rng.randrange(10**6) for _ in range(rng.randrange(1, 3000))]
        for _ in range(9)
    ]
    sketches = []
    for chunk in parts:
        sk = kll_new(k)
        kll_extend(sk, chunk)
        sketches.append(sk)
    merged = sketches[0]
    for other in sketches[1:]:
        merged = kll_merge(merged, other)
    allv = [v for chunk in parts for v in chunk]
    assert _weight(merged) == len(allv)
    _assert_rank_bound(merged, allv)


def test_err_bound_serialize_roundtrip():
    rng = random.Random(3)
    values = [rng.randrange(10**6) for _ in range(4000)]
    sk = kll_new(32)
    kll_extend(sk, values[:2500])
    other = kll_loads(kll_dumps(kll_new(32)))
    kll_extend(other, values[2500:])
    merged = kll_merge(kll_loads(kll_dumps(sk)), kll_loads(kll_dumps(other)))
    _assert_rank_bound(kll_loads(kll_dumps(merged)), values)


def test_deterministic():
    values = list(range(1000)) * 3
    a, b = kll_new(16), kll_new(16)
    kll_extend(a, values)
    kll_extend(b, values)
    assert kll_dumps(a) == kll_dumps(b)


def test_query_extremes():
    sk = kll_new(8)
    kll_extend(sk, list(range(100, 0, -1)))
    assert kll_query(sk, 1) >= 1  # some stored value
    assert kll_query(sk, 100) <= 100


# ---------------------------------------------------------------------------
# Spark wiring: mapInPandas partials → applyInPandas merge
# ---------------------------------------------------------------------------


def test_spark_partial_build_and_merge(spark):
    rng = random.Random(11)
    rows = [
        ("g%d" % (i % 3), rng.randrange(10**6)) for i in range(6000)
    ]
    df = spark.createDataFrame(rows, "key string, v long").repartition(7)
    partials = df.mapInPandas(
        make_partial_builder("key", "v", k=64),
        schema="key string, payload string, err long, n_rows long",
    )
    # one partial per (task, key) at most — never a per-row explosion
    assert partials.count() <= 7 * 3
    merged = (
        partials.groupBy("key")
        .applyInPandas(
            make_sketch_merger("key", [("p50", 1, 2), ("p90", 9, 10)]),
            schema=(
                "key string, payload string, err long, n_rows long, "
                "est_p50 long, t_p50 long, est_p90 long, t_p90 long"
            ),
        )
        .collect()
    )
    by_key: dict[str, list[int]] = {}
    for key, v in rows:
        by_key.setdefault(key, []).append(v)
    assert len(merged) == 3
    for r in merged:
        values = sorted(by_key[r["key"]])
        assert r["n_rows"] == len(values)
        sk = kll_loads(r["payload"])
        assert sk["err"] == r["err"] and sk["n"] == r["n_rows"]
        for name, num, den in (("p50", 1, 2), ("p90", 9, 10)):
            t = r[f"t_{name}"]
            assert t == -(-num * len(values) // den)
            v = r[f"est_{name}"]
            assert bisect_left(values, v) <= t - 1 + r["err"]
            assert bisect_right(values, v) >= t - r["err"]


def test_spark_partial_builder_empty_partitions(spark):
    # 1 row across 8 partitions: 7 tasks emit empty frames — the Arrow
    # conversion of the empty object-dtype frame must not crash
    df = spark.createDataFrame([("a", 5)], "key string, v long").repartition(8)
    partials = df.mapInPandas(
        make_partial_builder("key", "v"),
        schema="key string, payload string, err long, n_rows long",
    ).collect()
    assert len(partials) == 1
    assert partials[0]["n_rows"] == 1 and partials[0]["err"] == 0


def test_a38_catalog_query_nondegenerate(spark, sf_small):
    from us_dot_flights_lakehouse_spark.queries.sketch_q import a38_kll_quantile_sketch

    rows = a38_kll_quantile_sketch(spark, sf_small).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["n_rows"] > 0
        assert (
            r["exact_p50_cents"]
            <= r["exact_p90_cents"]
            <= r["exact_p99_cents"]
        )
        assert r["sketch_ok_p50"] and r["sketch_ok_p90"] and r["sketch_ok_p99"]


# ---------------------------------------------------------------------------
# Misra-Gries frequency sketch (round 10): both hard invariants —
# (1) c(x) - d <= est(x) <= c(x) for EVERY item, (2) d*(cap+1) <= n —
# across update, merge, and serialize paths, plus the containment
# corollary (count > d => item present) the a39 oracle booleans assume.
# ---------------------------------------------------------------------------


def _assert_mg_invariants(sk: dict, values: list[str]) -> None:
    from collections import Counter

    exact = Counter(values)
    assert sk["n"] == len(values), "row-count conservation violated"
    assert len(sk["counters"]) <= sk["cap"]
    assert sk["d"] * (sk["cap"] + 1) <= sk["n"], "weight invariant violated"
    for x, c in exact.items():
        est = sk["counters"].get(x, 0)
        assert est <= c, f"est({x})={est} > true {c}"
        assert est >= c - sk["d"], f"est({x})={est} < true-d {c - sk['d']}"
        if c > sk["d"]:
            assert x in sk["counters"], f"heavy item {x} (c={c}>d) missing"


@pytest.mark.parametrize("cap", [4, 8, 64])
@pytest.mark.parametrize("dist", ["uniform", "zipf", "constant"])
def test_mg_invariants_update(cap: int, dist: str):
    rng = random.Random(42)
    n = 5000
    if dist == "uniform":
        values = [str(rng.randrange(500)) for _ in range(n)]
    elif dist == "zipf":
        # ~90% of mass on 7 hot items over a long uniform tail — the
        # a39 shape; the sketch must actually find the hot items
        values = [
            str(rng.randrange(7)) if rng.random() < 0.9
            else str(1000 + rng.randrange(400))
            for _ in range(n)
        ]
    else:
        values = ["x"] * n
    from collections import Counter

    sk = mg_new(cap)
    for i in range(0, n, 977):  # uneven batches exercise mid-state
        mg_update(sk, Counter(values[i : i + 977]))
    _assert_mg_invariants(sk, values)
    if dist == "zipf" and cap >= 8:
        # containment must BIND here: every hot item has count >> d
        assert {str(i) for i in range(7)} <= set(sk["counters"])


@pytest.mark.parametrize("cap", [4, 32])
def test_mg_invariants_merge_and_serialize(cap: int):
    from collections import Counter

    rng = random.Random(7)
    parts = [
        [str(rng.randrange(1, 40) ** 2) for _ in range(rng.randrange(1, 2000))]
        for _ in range(9)
    ]
    sketches = []
    for chunk in parts:
        sk = mg_new(cap)
        mg_update(sk, Counter(chunk))
        sketches.append(mg_loads(mg_dumps(sk), sk["d"], sk["n"], cap))
    merged = sketches[0]
    for other in sketches[1:]:
        merged = mg_merge(merged, other)
    _assert_mg_invariants(merged, [v for chunk in parts for v in chunk])


def test_mg_deterministic():
    from collections import Counter

    values = [str(i % 23) for i in range(3000)]
    a, b = mg_new(8), mg_new(8)
    mg_update(a, Counter(values))
    for i in range(0, 3000, 700):
        mg_update(b, Counter(values[i : i + 700]))
    # different batching may change counters, but serialization of the
    # SAME batching is stable
    c = mg_new(8)
    mg_update(c, Counter(values))
    assert mg_dumps(a) == mg_dumps(c)
    _assert_mg_invariants(b, values)


def test_mg_spark_partial_build_and_merge(spark):
    from collections import Counter

    rng = random.Random(11)
    rows = [
        (
            "g%d" % (i % 2),
            str(rng.randrange(5)) if rng.random() < 0.8 else str(i),
        )
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "key string, item string").repartition(7)
    partials = df.mapInPandas(
        make_mg_partial_builder("key", "item", 8),
        schema="key string, counters string, d long, n_rows long",
    )
    assert partials.count() <= 7 * 2  # one row per (task, key) at most
    merged = (
        partials.groupBy("key")
        .applyInPandas(
            make_mg_merger("key", 8),
            schema="key string, counters string, d long, n_rows long",
        )
        .collect()
    )
    assert len(merged) == 2
    by_key: dict[str, list[str]] = {}
    for key, item in rows:
        by_key.setdefault(key, []).append(item)
    for r in merged:
        sk = mg_loads(r["counters"], r["d"], r["n_rows"], 8)
        _assert_mg_invariants(sk, by_key[r["key"]])
        # the 5 engineered hot items dominate every task's sample
        assert {str(i) for i in range(5)} <= set(sk["counters"])


def test_mg_builder_rejects_nulls(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", None)], "key string, item string"
    )
    partials = df.mapInPandas(
        make_mg_partial_builder("key", "item", 8),
        schema="key string, counters string, d long, n_rows long",
    )
    with pytest.raises(Exception, match="non-null"):
        partials.collect()


def test_a39_catalog_query_nondegenerate(spark, sf_small):
    from us_dot_flights_lakehouse_spark.queries.sketch_q import (
        MG_TOPK,
        a39_mg_topk_sketch,
    )

    rows = a39_mg_topk_sketch(spark, sf_small).collect()
    flags = {r["flag"] for r in rows}
    assert len(rows) == len(flags) * MG_TOPK
    for r in rows:
        assert 1 <= r["rank"] <= MG_TOPK
        assert r["cnt"] > 0
        assert r["mg_ok"] and r["derr_ok"] and r["n_ok"]
    # within a flag, cnt is non-increasing with rank
    by_flag: dict[str, list] = {}
    for r in rows:
        by_flag.setdefault(r["flag"], []).append(r)
    for rs in by_flag.values():
        rs.sort(key=lambda r: r["rank"])
        assert all(a["cnt"] >= b["cnt"] for a, b in zip(rs, rs[1:]))


def test_w24_catalog_query_nondegenerate(spark, sf_small):
    from us_dot_flights_lakehouse_spark.queries.sketch_q import (
        MG_TOPK,
        w24_mg_rolling_topk,
    )

    rows = w24_mg_rolling_topk(spark, sf_small).collect()
    months = {r["month"] for r in rows}
    assert len(months) > 12  # the sf0.001 order spine spans years
    for r in rows:
        assert 1 <= r["rank"] <= MG_TOPK
        assert r["cnt"] > 0
        assert r["mg_ok"] and r["derr_ok"] and r["n_ok"]
    # the engineered hot items (custkey % 5) dominate every window's top
    hot = sum(1 for r in rows if r["rank"] == 1 and r["item"] < 5)
    assert hot == len(months), "rank-1 item should be a folded hot customer"


def test_st_windowed_quantile_sketch_nondegenerate(spark, sf_small):
    from us_dot_flights_lakehouse_spark.queries.streaming import (
        st_windowed_quantile_sketch,
    )

    rows = st_windowed_quantile_sketch(spark, sf_small).collect()
    assert len(rows) > 10  # the event spine spans ~a month of days
    for r in rows:
        assert r["n_events"] > 0
        assert r["exact_p50_cents"] <= r["exact_p95_cents"]
        assert r["sketch_ok_p50"] and r["sketch_ok_p95"]


def test_st_windowed_quantile_compactor_active_at_sf001(spark):
    """The query's k=64 claim: at sf0.01 (hundreds of events/day) the
    per-day sketches COMPACT (err > 0), so the bound booleans verify the
    error-tracking path, not just buffer concatenation."""
    from pyspark.sql import functions as F

    from us_dot_flights_lakehouse_spark.sources.readers import read_table

    events = read_table(spark, "/root/testdata/sf0.01", "events")
    vals = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    merged = (
        vals.mapInPandas(
            make_partial_builder("day", "cents", k=64),
            schema="day string, payload string, err long, n_rows long",
        )
        .groupBy("day")
        .applyInPandas(
            make_sketch_merger("day", []),
            schema="day string, payload string, err long, n_rows long",
        )
        .collect()
    )
    assert sum(r["err"] for r in merged) > 0, (
        "no compaction at sf0.01: the sketch path is degenerate there"
    )


# ---------------------------------------------------------------------------
# ADVICE r9 kernel guards
# ---------------------------------------------------------------------------


def test_kll_query_empty_sketch_raises():
    with pytest.raises(ValueError, match="empty sketch"):
        kll_query(kll_new(8), 1)


def test_kll_builder_rejects_nulls(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", None)], "key string, v long"
    )
    partials = df.mapInPandas(
        make_partial_builder("key", "v"),
        schema="key string, payload string, err long, n_rows long",
    )
    with pytest.raises(Exception, match="non-null"):
        partials.collect()


def test_kll_builder_rejects_null_keys(spark):
    df = spark.createDataFrame(
        [("a", 1), (None, 2)], "key string, v long"
    )
    partials = df.mapInPandas(
        make_partial_builder("key", "v"),
        schema="key string, payload string, err long, n_rows long",
    )
    with pytest.raises(Exception, match="non-null"):
        partials.collect()


def test_w23_catalog_query_nondegenerate(spark, sf_small):
    from us_dot_flights_lakehouse_spark.queries.sketch_q import (
        w23_sketch_rolling_quantile,
    )

    rows = w23_sketch_rolling_quantile(spark, sf_small).collect()
    assert len(rows) > 12
    widths = {r["n_window_months"] for r in rows}
    assert widths == {1, 2, 3}  # ramp-in months then steady trailing-3
    assert all(r["sketch_ok_p90"] for r in rows)
    assert all(r["n_window_rows"] > 0 for r in rows)


def test_mg_loads_rejects_undersized_cap():
    """ADVICE r10: a merger configured with a SMALLER cap than the builder
    (the over-reduce / d-inflating direction) must fail loudly on load —
    a valid cap-C blob never carries more than C counters."""
    sk = mg_new(8)
    mg_update(sk, {str(i): i + 1 for i in range(20)})
    blob = mg_dumps(sk)
    assert len(sk["counters"]) == 8
    loaded = mg_loads(blob, sk["d"], sk["n"], 8)  # matching cap: fine
    assert loaded["counters"] == sk["counters"]
    with pytest.raises(ValueError, match="cap=4"):
        mg_loads(blob, sk["d"], sk["n"], 4)


def test_priority_registry_unique_and_resolvable():
    """ADVICE r10: _PRIORITY must carry no duplicates (hand-counting the
    driver's head-50 budget depends on it) and every name must resolve."""
    from us_dot_flights_lakehouse_spark import queries as qreg

    assert len(qreg._PRIORITY) == len(set(qreg._PRIORITY))
    merged = {}
    for m in qreg._MODULES:
        merged.update(m.QUERIES)
    missing = [n for n in qreg._PRIORITY if n not in merged]
    assert not missing, f"_PRIORITY names with no implementation: {missing}"


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct-count sketch
# ---------------------------------------------------------------------------


def _md5_60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def test_kmv_hash_engine_parity():
    """The kernel/oracle contract rests on md5-prefix parity: Python's
    hashlib (kernel tests), DuckDB's ('0x'||substr(md5,1,15))::BIGINT
    (oracles), and Spark's conv(substring(md5,1,15),16,10) (queries) all
    produce the same 60-bit int. Spark side is covered by the catalog
    queries hashing JVM-side and still oracle-matching; this pins the
    DuckDB<->Python leg."""
    import duckdb

    con = duckdb.connect()
    for v in ["kmv:123", "kmv:", "kmv:a b c", "kmv:ünïcode"]:
        d = con.execute(
            "SELECT ('0x' || substr(md5(?),1,15))::BIGINT", [v]
        ).fetchone()[0]
        assert d == _md5_60(v), v


@pytest.mark.parametrize("k", [16, 64])
def test_kmv_merge_equals_direct_and_estimate(k: int):
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        kmv_add_hashes,
        kmv_estimate,
        kmv_merge,
        kmv_new,
    )

    hs = [_md5_60(f"kmv:{i}") for i in range(4000)]
    direct = kmv_new(k)
    kmv_add_hashes(direct, hs)
    # any partitioning into partials must merge to the identical blob
    parts = [kmv_new(k) for _ in range(7)]
    for i, h in enumerate(hs):
        kmv_add_hashes(parts[i % 7], [h])
    merged = parts[0]
    for p in parts[1:]:
        merged = kmv_merge(merged, p)
    assert merged["hashes"] == direct["hashes"]
    est = kmv_estimate(direct)
    assert abs(est - 4000) / 4000 < 5 / (k - 2) ** 0.5  # ~5 sigma
    # below-k sketches are exact
    small = kmv_new(k)
    kmv_add_hashes(small, hs[: k - 3])
    assert kmv_estimate(small) == float(k - 3)
    # duplicates don't change the state (set semantics)
    dup = kmv_new(k)
    kmv_add_hashes(dup, hs + hs)
    assert dup["hashes"] == direct["hashes"]


def test_kmv_loads_rejects_undersized_k():
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        kmv_add_hashes,
        kmv_dumps,
        kmv_loads,
        kmv_new,
    )

    sk = kmv_new(32)
    kmv_add_hashes(sk, [_md5_60(f"kmv:{i}") for i in range(100)])
    blob = kmv_dumps(sk)
    assert kmv_loads(blob, 32)["hashes"] == sk["hashes"]
    with pytest.raises(ValueError, match="k=16"):
        kmv_loads(blob, 16)


def test_kmv_prefilter_float_tie_safety():
    """The r12 builder prefilter compares int64 hashes against the
    per-key cutoff in float64 (pandas map). At the 2^60 hash scale a
    float64 ulp is 256, so integers adjacent to the cutoff TIE in
    float. Safety requires ties to be KEPT (the exact integer fold then
    decides) — a strict float < would wrongly drop a hash one below the
    cutoff and diverge from the bit-exact oracle."""
    import pandas as pd

    from us_dot_flights_lakehouse_spark.operators.sketches import (
        kmv_loads,
        make_kmv_partial_builder,
    )

    build = make_kmv_partial_builder("key", "h", 2)
    big = 1 << 60
    assert float(big - 1) == float(big)  # the tie this test exists for
    batches = [
        pd.DataFrame({"key": ["a", "a"], "h": [100, big]}),  # full: kth=2^60
        # one BELOW the cutoff but float-tied with it: must displace 2^60
        pd.DataFrame({"key": ["a"], "h": [big - 1]}),
        # one ABOVE the cutoff and float-tied: kept by the filter,
        # truncated by the integer fold — harmless either way
        pd.DataFrame({"key": ["a"], "h": [big + 1]}),
    ]
    [out] = list(build(iter(batches)))
    sk = kmv_loads(out["payload"].iloc[0], 2)
    assert sk["hashes"] == [100, big - 1]


def test_kmv_spark_partial_build_and_merge(spark):
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        kmv_loads,
        make_kmv_merger,
        make_kmv_partial_builder,
    )

    rows = [("g1", i % 500) for i in range(3000)] + [
        ("g2", i) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "key string, v long").repartition(8)
    from pyspark.sql import functions as F

    hashed = df.select(
        "key",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("v").cast("string"))), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    k = 64
    merged = (
        hashed.mapInPandas(
            make_kmv_partial_builder("key", "h", k),
            schema="key string, payload string",
        )
        .groupBy("key")
        .applyInPandas(
            make_kmv_merger("key", k),
            schema="key string, payload string, n_hashes long, kth long",
        )
    )
    out = {r["key"]: r for r in merged.collect()}
    # g1: 500 distinct values -> full sketch, estimate within ~5 sigma
    g1 = out["g1"]
    assert g1["n_hashes"] == k and g1["kth"] is not None
    est = (k - 1) * float(1 << 60) / g1["kth"]
    assert abs(est - 500) / 500 < 5 / (k - 2) ** 0.5
    # the blob equals a single-threaded build over the same hash set
    expect = sorted(
        {_md5_60(f"kmv:{v}") for v in range(500)}
    )[:k]
    assert kmv_loads(g1["payload"], k)["hashes"] == expect
    # g2: 40 < k distinct -> exact, kth is NULL
    g2 = out["g2"]
    assert g2["n_hashes"] == 40 and g2["kth"] is None


def test_kmv_builder_rejects_nulls(spark):
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        make_kmv_partial_builder,
    )

    df = spark.createDataFrame([("a", 1), ("a", None)], "key string, h long")
    partials = df.mapInPandas(
        make_kmv_partial_builder("key", "h", 8),
        schema="key string, payload string",
    )
    with pytest.raises(Exception, match="non-null"):
        partials.collect()


def test_a40_catalog_query_nondegenerate(spark, sf_small):
    from us_dot_flights_lakehouse_spark.queries.sketch_q import (
        KMV_K,
        a40_kmv_distinct_sketch,
    )

    rows = a40_kmv_distinct_sketch(spark, sf_small).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["exact_distinct"] > 0
        if r["n_hashes"] == KMV_K:  # estimator branch
            assert abs(r["rel_err"]) < 0.7  # 5 sigma at k=64
        else:  # exact branch
            assert r["est_distinct"] == float(r["exact_distinct"])


def test_w25_catalog_query_nondegenerate(spark, sf_small):
    from us_dot_flights_lakehouse_spark.queries.sketch_q import (
        KMV_K,
        w25_kmv_rolling_distinct,
    )

    rows = w25_kmv_rolling_distinct(spark, sf_small).collect()
    assert len(rows) > 12
    widths = {r["n_window_months"] for r in rows}
    assert widths == {1, 2, 3}
    for r in rows:
        if r["n_hashes"] < KMV_K:
            assert r["est_distinct"] == float(r["exact_distinct"])
            assert r["rel_err"] == 0.0
        else:
            assert abs(r["rel_err"]) < 0.7


def test_dd_kmv_source_overlap_nondegenerate(spark, sf_small):
    from us_dot_flights_lakehouse_spark.queries.dedup_q import dd_kmv_source_overlap

    rows = dd_kmv_source_overlap(spark, sf_small).collect()
    n_src = {r["src_a"] for r in rows} | {r["src_b"] for r in rows}
    assert len(rows) == len(n_src) * (len(n_src) - 1) // 2
    assert all(0.0 <= r["est_jaccard"] <= 1.0 for r in rows)
    assert all(r["n_union"] >= r["n_inter"] for r in rows)
    # estimates must track truth: mean absolute Jaccard error small
    mae = sum(abs(r["jac_err"]) for r in rows) / len(rows)
    assert mae < 0.1


# ---------------------------------------------------------------------------
# Property-based merge-tree invariance (hypothesis): the guarantee every
# catalog sketch query leans on is that a sketch built over ANY
# partitioning + merge order of the data upholds its contract. KMV is
# strictly partition-INVARIANT (same blob regardless); KLL/MG blobs may
# differ per tree, but their tracked error contracts must hold for all.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    vals=hst.lists(
        hst.tuples(hst.sampled_from(["a", "b"]), hst.integers(0, 500)),
        min_size=1,
        max_size=400,
    ),
    cuts=hst.lists(hst.integers(min_value=0, max_value=399), max_size=5),
    k=hst.sampled_from([4, 16, 64]),
)
def test_kmv_builder_batch_boundary_invariance(vals, cuts, k):
    """The r12 admission-cutoff prefilter only activates ACROSS batches,
    so builder output must be identical however the same rows are split
    into Arrow batches (including the single-batch case where the
    prefilter never fires). Multi-key batches exercise the per-key
    cutoff map."""
    import pandas as pd

    from us_dot_flights_lakehouse_spark.operators.sketches import (
        kmv_loads,
        make_kmv_partial_builder,
    )

    rows = [(key, _md5_60(f"kmv:{v}")) for key, v in vals]

    def run(batches):
        build = make_kmv_partial_builder("key", "h", k)
        outs = [
            df
            for df in build(
                iter(
                    pd.DataFrame(b, columns=["key", "h"])
                    for b in batches
                    if b
                )
            )
        ]
        out = pd.concat(outs)
        return {
            r["key"]: kmv_loads(r["payload"], k)["hashes"]
            for _, r in out.iterrows()
        }

    single = run([rows])
    bounds = sorted({c for c in cuts if c < len(rows)} | {0, len(rows)})
    split = run([rows[lo:hi] for lo, hi in zip(bounds, bounds[1:])])
    assert split == single


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    vals=hst.lists(hst.integers(min_value=0, max_value=2000), min_size=1, max_size=600),
    cuts=hst.lists(hst.integers(min_value=0, max_value=599), max_size=6),
    k=hst.sampled_from([8, 32, 64]),
)
def test_kmv_partition_invariance_property(vals, cuts, k):
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        kmv_add_hashes,
        kmv_estimate,
        kmv_merge,
        kmv_new,
    )

    hs = [_md5_60(f"kmv:{v}") for v in vals]
    direct = kmv_new(k)
    kmv_add_hashes(direct, hs)
    bounds = sorted({c for c in cuts if c < len(hs)} | {0, len(hs)})
    parts = []
    for lo, hi in zip(bounds, bounds[1:]):
        p = kmv_new(k)
        kmv_add_hashes(p, hs[lo:hi])
        parts.append(p)
    merged = parts[0] if parts else kmv_new(k)
    for p in parts[1:]:
        merged = kmv_merge(merged, p)
    assert merged["hashes"] == direct["hashes"]
    nd = len(set(hs))
    if nd < k:  # exact branch
        assert kmv_estimate(direct) == float(nd)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    vals=hst.lists(hst.integers(min_value=0, max_value=50), min_size=1, max_size=500),
    cuts=hst.lists(hst.integers(min_value=0, max_value=499), max_size=5),
    cap=hst.sampled_from([4, 8]),
)
def test_mg_merge_tree_invariants_property(vals, cuts, cap):
    from collections import Counter

    from us_dot_flights_lakehouse_spark.operators.sketches import (
        mg_merge,
        mg_new,
        mg_update,
    )

    bounds = sorted({c for c in cuts if c < len(vals)} | {0, len(vals)})
    parts = []
    for lo, hi in zip(bounds, bounds[1:]):
        p = mg_new(cap)
        mg_update(p, dict(Counter(str(v) for v in vals[lo:hi])))
        parts.append(p)
    sk = parts[0] if parts else mg_new(cap)
    for p in parts[1:]:
        sk = mg_merge(sk, p)
    true = Counter(str(v) for v in vals)
    assert sk["n"] == len(vals)
    assert sk["d"] * (cap + 1) <= sk["n"]  # invariant (2), any tree
    for x, c in true.items():  # invariant (1), every item
        est = sk["counters"].get(x, 0)
        assert c - sk["d"] <= est <= c


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    vals=hst.lists(hst.integers(min_value=-1000, max_value=1000), min_size=1, max_size=400),
    cuts=hst.lists(hst.integers(min_value=0, max_value=399), max_size=4),
)
def test_kll_merge_tree_rank_bound_property(vals, cuts):
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        kll_extend,
        kll_merge,
        kll_new,
    )

    bounds = sorted({c for c in cuts if c < len(vals)} | {0, len(vals)})
    parts = []
    for lo, hi in zip(bounds, bounds[1:]):
        p = kll_new(16)
        kll_extend(p, vals[lo:hi])
        parts.append(p)
    sk = parts[0] if parts else kll_new(16)
    for p in parts[1:]:
        sk = kll_merge(sk, p)
    _assert_rank_bound(sk, vals)


def test_o11_universe_sample_join_consistency(spark, sf_small):
    """Universe sampling keeps joins consistent: every sampled order's
    customer is sampled too (same key universe), so the joined count
    equals the sampled-order count — the property independent row
    sampling lacks — and estimates scale by exactly U_RATE."""
    from us_dot_flights_lakehouse_spark.queries.sketch_q import (
        U_RATE,
        o11_universe_sample,
    )

    rows = o11_universe_sample(spark, sf_small).collect()
    assert len(rows) == 5  # every market segment survives zero-samples
    assert sum(r["n_cust_s"] for r in rows) > 0
    for r in rows:
        assert r["est_cust"] == float(U_RATE * r["n_cust_s"])
        assert r["est_orders"] == float(U_RATE * r["n_ord_s"])
        assert r["exact_cust"] >= r["n_cust_s"]
        assert r["exact_orders"] >= r["n_ord_s"]
    # zero-pair-loss, now OBSERVABLE (ADVICE r11): the scan-only count
    # of sampled orders equals the customer-joined count, and the
    # per-segment joined counts sum to exactly that total — an
    # INDEPENDENT count pair, not an alias of one measurement
    tot = rows[0]
    assert tot["n_ord_sampled_tot"] > 0
    assert tot["n_ord_sampled_tot"] == tot["n_ord_joined_tot"]
    assert sum(r["n_ord_s"] for r in rows) == tot["n_ord_sampled_tot"]


def test_x11_incremental_equals_recompute(spark, sf_small):
    """The maintained mart (partial-agg(base) ⊎ partial-agg(delta) →
    re-aggregate) must equal a direct full recompute, row for row,
    including the exact-decimal revenue."""
    from pyspark.sql import functions as F

    from us_dot_flights_lakehouse_spark.queries.sketch_q import x11_incremental_mart
    from us_dot_flights_lakehouse_spark.sources.readers import read_table

    maintained = {
        (r["month"], r["status"]): (r["n_orders"], r["revenue"])
        for r in x11_incremental_mart(spark, sf_small).collect()
    }
    full = {
        (r["month"], r["status"]): (r["n_orders"], r["revenue"])
        for r in read_table(spark, sf_small, "orders")
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .collect()
    }
    assert maintained == full
    # the delta window spans exactly 3 observed months
    in_delta = {
        r["month"]
        for r in x11_incremental_mart(spark, sf_small).collect()
        if r["in_delta"]
    }
    assert len(in_delta) == 3


def test_st_windowed_distinct_sketch_nondegenerate(spark, sf_small):
    from us_dot_flights_lakehouse_spark.queries.streaming import (
        KMV_WIN_K,
        st_windowed_distinct_sketch,
    )

    rows = st_windowed_distinct_sketch(spark, sf_small).collect()
    assert len(rows) >= 28  # ~a month of days
    for r in rows:
        assert r["n_events"] > 0 and r["exact_users"] > 0
        if r["n_hashes"] < KMV_WIN_K:
            assert r["est_users"] == float(r["exact_users"])
        else:
            assert abs(r["rel_err"]) < 0.7


def _x12_mart_path(sf_dir: str) -> str:
    import tempfile

    from us_dot_flights_lakehouse_spark.fixtures import source_fingerprint

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    fp = source_fingerprint(sf_dir, "orders")
    return f"{tempfile.gettempdir()}/us_dot_x12mart_{sf_tag}_{fp}"


def test_x12_maintained_blobs_equal_recompute(spark, sf_small, duck):
    """The PERSISTED mart's blobs — base write, then delta blobs merged
    through the S5 MERGE-upsert seam — must be bit-identical to a
    from-scratch bottom-k over ALL rows: merge-maintenance ≡ recompute
    across the write/read boundary, at the blob level (stronger than the
    estimate-level oracle hash)."""
    import json
    import os

    from us_dot_flights_lakehouse_spark.queries.sketch_q import (
        KMV_K,
        x12_sketch_mart_maintenance,
    )

    rows = x12_sketch_mart_maintenance(spark, sf_small).collect()
    assert len(rows) > 0
    out = _x12_mart_path(sf_small)
    assert os.path.isfile(os.path.join(out, "_MART_READY"))
    stored = {
        r["month"]: json.loads(r["payload"])
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        m: hashes
        for m, hashes in duck.execute(
            f"""
            SELECT month, list(h ORDER BY h) FROM (
              SELECT month, h, row_number() OVER (PARTITION BY month ORDER BY h) AS r
              FROM (
                SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month,
                       ('0x' || substr(md5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
                FROM orders
              )
            ) WHERE r <= {KMV_K} GROUP BY month
            """
        ).fetchall()
    }
    assert stored == expected


def test_x12_mart_reused_not_rebuilt(spark, sf_small):
    """Second invocation must read the committed mart, not rebuild it
    (write-once fixture contract; maintenance is idempotent anyway, but
    re-upserting on every call would churn files and bench timings)."""
    import os

    from us_dot_flights_lakehouse_spark.queries.sketch_q import (
        x12_sketch_mart_maintenance,
    )

    first = x12_sketch_mart_maintenance(spark, sf_small).collect()
    out = _x12_mart_path(sf_small)
    mtime = os.path.getmtime(out)
    second = x12_sketch_mart_maintenance(spark, sf_small).collect()
    assert os.path.getmtime(out) == mtime
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_a41_sampled_sketch_scaling(spark, sf_small):
    """The o11 x a40 composition: universe sampling keeps each distinct
    key with probability exactly 1/U_RATE, so KMV-on-sample x U_RATE
    must track the exact distinct count — and at sf_small the sampled
    sketches stay under k (exact branch: samp_est == samp_exact) while
    the full-set sketches overflow (estimator branch), pinning both
    code paths in one result."""
    from us_dot_flights_lakehouse_spark.queries.sketch_q import (
        KMV_K,
        U_RATE,
        a41_sampled_kmv_crosscheck,
    )

    rows = a41_sampled_kmv_crosscheck(spark, sf_small).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["full_n_hashes"] == KMV_K  # estimator branch
        assert r["samp_n_hashes"] < KMV_K  # exact branch at sf_small
        assert r["samp_est"] == float(r["samp_exact_distinct"])
        assert r["scaled_samp_est"] == U_RATE * r["samp_est"]
        # scaled sampled estimate tracks truth within the KMV+sampling
        # noise envelope (1/sqrt(k-2) + binomial thinning; generous pin)
        assert abs(r["rel_err_vs_exact"]) < 0.5
        assert abs(r["rel_err_vs_full_est"]) < 0.5


def test_w26_mart_rollup_equals_inline_rollup(spark, sf_small):
    """Blobs read from the persisted x12 mart must recombine into
    exactly the same rolling-window report as blobs built inline in the
    same plan (w25): the write/read boundary is invisible to the
    rollup — the provenance-independence the mergeable-mart design
    promises."""
    from us_dot_flights_lakehouse_spark.queries.sketch_q import (
        w25_kmv_rolling_distinct,
        w26_mart_rolling_distinct,
    )

    inline = sorted(map(tuple, w25_kmv_rolling_distinct(spark, sf_small).collect()))
    from_mart = sorted(map(tuple, w26_mart_rolling_distinct(spark, sf_small).collect()))
    assert inline == from_mart
    assert len(inline) > 0


def test_x12_rename_race_adopts_committed_winner(spark, sf_small, monkeypatch):
    """If the final rename fails but a concurrent run already committed
    a READY mart, adopt theirs (fingerprint-keyed marts are
    byte-equivalent) and clean up our losing tmp build."""
    import os
    import shutil

    from us_dot_flights_lakehouse_spark.queries import sketch_q

    out = _x12_mart_path(sf_small)
    # ensure a committed mart exists, then displace it to simulate "their"
    # commit landing between our build and our rename
    sketch_q._x12_mart(spark, sf_small)
    real_rename = os.rename

    def failing_rename(src, dst):
        if dst == out:
            raise OSError(39, "simulated rename race")
        return real_rename(src, dst)

    # force a rebuild attempt whose final rename loses the race
    keep = f"{out}.keep"
    shutil.rmtree(keep, ignore_errors=True)
    real_rename(out, keep)  # our run sees no READY mart -> builds

    committed = {"done": False}
    orig_build = sketch_q._x12_build_mart

    def build_then_commit(s, orders, path):
        orig_build(s, orders, path)
        # the concurrent winner commits just before our rename
        real_rename(keep, out)
        committed["done"] = True

    monkeypatch.setattr(sketch_q, "_x12_build_mart", build_then_commit)
    monkeypatch.setattr(os, "rename", failing_rename)
    got = sketch_q._x12_mart(spark, sf_small)
    assert committed["done"] and got == out
    assert os.path.isfile(os.path.join(out, "_MART_READY"))
    assert not os.path.exists(f"{out}.tmp.{os.getpid()}")


def test_x12_rename_race_reraises_without_winner(spark, sf_small, monkeypatch):
    """If the rename fails and NO committed mart exists, the error must
    propagate — never silently return a path with no mart behind it."""
    import os
    import shutil

    import pytest

    from us_dot_flights_lakehouse_spark.queries import sketch_q

    out = _x12_mart_path(sf_small)
    keep = f"{out}.keep"
    shutil.rmtree(keep, ignore_errors=True)
    if os.path.isdir(out):
        os.rename(out, keep)  # no READY mart visible
    real_rename = os.rename

    def failing_rename(src, dst):
        if dst == out:
            raise OSError(39, "simulated rename race")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    try:
        with pytest.raises(OSError):
            sketch_q._x12_mart(spark, sf_small)
    finally:
        monkeypatch.undo()
        shutil.rmtree(f"{out}.tmp.{os.getpid()}", ignore_errors=True)
        if os.path.isdir(keep) and not os.path.isdir(out):
            os.rename(keep, out)  # restore for later tests


def test_groupby_advisor_branches_and_sizing(spark, sf_small):
    """One scan, six advisors: small key-sets must come back on the
    exact branch (est == exact, bit-equal), large ones on the estimator
    branch (sketch full), and the partition recommendation must follow
    the ceil(est/GROUPS_PER_PART) rule for every row."""
    import math

    from us_dot_flights_lakehouse_spark.queries.sketch_q import (
        ADVISOR_GROUPS_PER_PART,
        KMV_K,
        q_groupby_cardinality_advisor,
    )

    rows = {r["keyset"]: r for r in q_groupby_cardinality_advisor(spark, sf_small).collect()}
    assert set(rows) == {
        "status", "priority", "status|priority",
        "month", "month|status", "custkey",
    }
    for small in ("status", "priority", "status|priority"):
        r = rows[small]
        assert r["n_hashes"] < KMV_K
        assert r["est_groups"] == float(r["exact_groups"])  # exact branch
        assert r["rel_err"] == 0.0
    for big in ("month", "month|status", "custkey"):
        assert rows[big]["n_hashes"] == KMV_K  # estimator branch
    for r in rows.values():
        assert r["recommended_partitions"] == math.ceil(
            r["est_groups"] / ADVISOR_GROUPS_PER_PART
        )
        assert r["recommended_partitions"] >= 1


def test_join_advisor_estimates_strategy_and_sizing(spark, sf_small):
    """The join advisor's exact companions must equal an independently
    computed real join cardinality, its estimates must track the exact
    values within the KMV error envelope, and strategy / partition
    recommendations must follow their rules for every edge."""
    import math

    from us_dot_flights_lakehouse_spark.sources.readers import read_table
    from us_dot_flights_lakehouse_spark.queries.sketch_q import (
        JOIN_ADV_BROADCAST_ROWS,
        JOIN_ADV_ROWS_PER_PART,
        q_join_cardinality_advisor,
    )

    rows = {
        r["edge"]: r
        for r in q_join_cardinality_advisor(spark, sf_small).collect()
    }
    assert set(rows) == {
        "lineitem_part",
        "lineitem_supplier",
        "lineitem_orders",
        "orders_customer",
    }
    # ground truth: actually run one of the joins
    li = read_table(spark, sf_small, "lineitem")
    part = read_table(spark, sf_small, "part")
    true_rows = li.join(part, li.l_partkey == part.p_partkey).count()
    assert rows["lineitem_part"]["exact_join_rows"] == true_rows
    for r in rows.values():
        # KMV k=64 relative std err ~ 1/sqrt(k) ~ 12.5%; 0.75 is a loose
        # deterministic envelope (estimates are fixed for fixed data)
        assert r["exact_join_rows"] > 0
        assert abs(r["join_rel_err"]) < 0.75
        assert (
            abs(r["est_left_keys"] - r["exact_left_keys"])
            <= 0.75 * r["exact_left_keys"]
        )
        assert r["exact_overlap"] <= min(
            r["exact_left_keys"], r["exact_right_keys"]
        )
        expect = "broadcast" if (
            r["n_right_rows"] <= JOIN_ADV_BROADCAST_ROWS
        ) else "shuffle"
        assert r["strategy"] == expect
        assert r["recommended_partitions"] == max(
            1, math.ceil(r["est_join_rows"] / JOIN_ADV_ROWS_PER_PART)
        )


def test_join_advisor_zero_overlap_edge(spark, sf_small, monkeypatch):
    """No generated SF exercises the disjoint-keys path (TPC-H-ish FKs
    always match), so force one: shift every c_custkey out of the
    o_custkey domain and check the orders_customer edge surfaces the
    zero-overlap contract — exact_overlap/exact_join_rows coalesce to 0,
    join_rel_err is NULL (no /0), est_overlap collapses to 0 when no
    sketch hash is shared, and the partition floor holds at 1."""
    from pyspark.sql import functions as F

    from us_dot_flights_lakehouse_spark.queries import sketch_q

    orig = sketch_q.read_table

    def shifted(spark_, sf_dir_, name_):
        df = orig(spark_, sf_dir_, name_)
        if name_ == "customer":
            return df.withColumn(
                "c_custkey", F.col("c_custkey") + F.lit(10_000_000)
            )
        return df

    monkeypatch.setattr(sketch_q, "read_table", shifted)
    rows = {
        r["edge"]: r
        for r in sketch_q.q_join_cardinality_advisor(spark, sf_small).collect()
    }
    r = rows["orders_customer"]
    assert r["exact_overlap"] == 0
    assert r["exact_join_rows"] == 0
    assert r["join_rel_err"] is None
    assert r["est_overlap"] == 0.0
    assert r["est_join_rows"] == 0.0
    assert r["recommended_partitions"] == 1
    # an untouched edge keeps a live overlap
    assert rows["lineitem_part"]["exact_overlap"] > 0


def test_x12_markerless_squatter_evicted(spark, sf_small):
    """A directory squatting at the mart path WITHOUT the _MART_READY
    marker (e.g. /tmp aging deleted the marker but not the dir) must be
    evicted and rebuilt — never trusted, and never a permanent
    rename-failure loop (review r12)."""
    import os
    import shutil

    from us_dot_flights_lakehouse_spark.queries import sketch_q

    out = _x12_mart_path(sf_small)
    sketch_q._x12_mart(spark, sf_small)  # ensure committed
    os.remove(os.path.join(out, "_MART_READY"))  # age the marker out
    got = sketch_q._x12_mart(spark, sf_small)
    assert got == out
    assert os.path.isfile(os.path.join(out, "_MART_READY"))
    # the rebuilt mart is complete and readable
    assert spark.read.parquet(out).count() > 0
    shutil.rmtree(f"{out}.tmp.{os.getpid()}", ignore_errors=True)


def test_kmv_stream_excludes_null_keys_like_count_distinct(spark):
    """NULL keys must be excluded from the KMV stream (countDistinct
    semantics — both engines ignore NULLs), not crash the kernel: a 20%
    null bucket in a production join key otherwise kills every sketch
    call site (found by the r13 null-bucket stress sweep). The kernel's
    own no-null contract stays loud — the exclusion lives at the
    _kmv_sketch_by chokepoint."""
    from pyspark.sql import functions as F

    from us_dot_flights_lakehouse_spark.queries import sketch_q

    rows = [("A", 1), ("A", 2), ("A", None), ("A", None), ("B", None)]
    df = spark.createDataFrame(rows, "g string, k int")
    hashed = df.select("g", sketch_q._kmv_hash(F.col("k")).alias("h"))
    got = {r["g"]: r for r in sketch_q._kmv_sketch_by(hashed, "g").collect()}
    # group A: 2 distinct non-null keys; under-k branch => exact
    assert got["A"]["n_hashes"] == 2
    # group B: only null keys -> no partials at all -> no row (matches
    # countDistinct=0 semantics: the group simply has nothing to sketch)
    assert "B" not in got


def test_mg_skew_advisor_stream_prunes_null_keys(spark, monkeypatch):
    """q_join_skew_advisor must prune NULL fact keys the way the inner
    join itself does (IsNotNull pushdown): a planted null bucket bigger
    than every real key must neither crash the MG kernel nor appear as
    a 'hot key' row."""
    from pyspark.sql import functions as F

    from us_dot_flights_lakehouse_spark.queries import sketch_q

    rows = [(None, 10.0)] * 50 + [(1, 30.0)] * 10 + [(2, 30.0)] * 5
    li = spark.createDataFrame(rows, "l_suppkey bigint, l_quantity double")
    monkeypatch.setattr(
        sketch_q, "read_table",
        lambda s, d, n: li,
    )
    out = sketch_q.q_join_skew_advisor(spark, "ignored").collect()
    keys = [r["key"] for r in out]
    assert None not in keys
    # qty<=25 folds onto key 0 (the 50 null-suppkey rows at qty 10);
    # the remaining rows keep suppkeys 1 and 2
    assert {0, 1, 2} == set(keys)
    assert all(r["mg_ok"] for r in out)


def test_join_advisor_single_edge_equals_full_run(spark, sf_small):
    """only_edge restricts the advisor to one edge's scans; the produced
    row must be bit-identical to that edge's row in the full 4-edge run
    (every output column is a per-edge computation — the j19 seam relies
    on this to skip three tables' scans)."""
    from us_dot_flights_lakehouse_spark.queries import sketch_q

    full = {
        r["edge"]: r
        for r in sketch_q.q_join_cardinality_advisor(spark, sf_small).collect()
    }
    one = sketch_q.q_join_cardinality_advisor(
        spark, sf_small, only_edge="orders_customer"
    ).collect()
    assert len(one) == 1
    assert tuple(one[0]) == tuple(full["orders_customer"])


def test_exact_cut_points_bit_equal_to_percentile(spark, sf_small):
    """r13: the sort+rank-selection cut-point relation must reproduce
    Spark's percentile() aggregate BIT-FOR-BIT (which the DuckDB oracle
    already pins to quantile_cont) — both the interpolated doubles and
    n_total — on real data and on a crafted multiset with heavy ties."""
    from pyspark.sql import functions as F

    from us_dot_flights_lakehouse_spark.queries import sketch_q
    from us_dot_flights_lakehouse_spark.sources.readers import read_table

    fracs = [i / 8 for i in range(1, 8)]
    for vals in (
        read_table(spark, sf_small, "lineitem")
        .select(F.col("l_extendedprice").alias("v"))
        .where(F.col("v").isNotNull()),
        spark.createDataFrame(
            [(float(x),) for x in [1, 1, 1, 2, 2, 3, 7, 7, 7, 7, 11]], "v double"
        ),
    ):
        ref = vals.agg(
            F.percentile("v", F.lit(fracs)).alias("cuts"),
            F.count("*").cast("bigint").alias("n_total"),
        ).collect()[0]
        got = sketch_q._exact_cut_points(spark, vals, fracs).collect()[0]
        assert got["n_total"] == ref["n_total"]
        assert list(got["cuts"]) == list(ref["cuts"])
