"""Property-based checks (hypothesis): the custom join operators agree
with a naive specification on arbitrary small inputs — the cheap way to
sweep the edge-case space (empty sides, ties, all-in-one-key,
boundary-touching intervals) that example tests miss."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


rows_left = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=12
)
rows_right = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50), st.floats(0, 10)),
    min_size=0,
    max_size=12,
    unique_by=lambda r: (r[0], r[1]),  # asof contract: unique (key, ts)
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=rows_left, right=rows_right)
def test_asof_join_matches_naive_spec(spark, left, right):
    from us_dot_flights_lakehouse_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k int, t int, lid int"
    )
    rdf = spark.createDataFrame(right, "k int, t int, rv double")
    got = {
        r.lid: (r.t_matched, r.rv)
        for r in asof_join(ldf, rdf, ["k"], "t", "t", ["rv"]).collect()
    }
    for i, (k, t) in enumerate(left):
        matches = [(rt, rv) for rk, rt, rv in right if rk == k and rt <= t]
        want = max(matches, key=lambda m: m[0]) if matches else (None, None)
        assert got[i] == want, (i, k, t, got[i], want)


intervals = st.lists(
    st.tuples(st.integers(0, 2), st.floats(0, 40), st.floats(0, 40)),
    min_size=0,
    max_size=8,
)
points = st.lists(st.floats(0, 40), min_size=0, max_size=12)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(points=points, intervals=intervals)
def test_bucketed_range_join_matches_naive_spec(spark, points, intervals):
    from us_dot_flights_lakehouse_spark.operators.joins import bucketed_range_join

    pdf = spark.createDataFrame(
        [(i, x) for i, x in enumerate(points)], "pid int, x double"
    )
    ivdf = spark.createDataFrame(
        [(i, min(lo, hi), max(lo, hi)) for i, (_, lo, hi) in enumerate(intervals)],
        "iv int, lo double, hi double",
    )
    got = sorted(
        (r.pid, r.iv)
        for r in bucketed_range_join(pdf, ivdf, "x", "lo", "hi", 7.0).collect()
    )
    want = sorted(
        (pi, ii)
        for pi, x in enumerate(points)
        for ii, (_, lo, hi) in enumerate(intervals)
        if min(lo, hi) <= x < max(lo, hi)
    )
    assert got == want


word = st.sampled_from(["a", "bb", "ccc", "x", "yz"])
docs_strategy = st.lists(
    st.lists(word, min_size=0, max_size=14).map(" ".join),
    min_size=1,
    max_size=4,
)


def _naive_repetition(text):
    """Brute-force spec of repetition_stats for one document."""
    toks = text.strip().lower().split()
    if toks == [""]:
        toks = [""]
    token_chars = sum(len(t) for t in toks)
    out = {}
    for n, kind in [(2, "top"), (3, "top"), (4, "top"), (5, "dup"), (10, "dup")]:
        grams = [
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ] if len(toks) >= n else []
        counts = {}
        for g in grams:
            counts[g] = counts.get(g, 0) + 1
        if kind == "top":
            cover = max(
                (c * (len(g) - (n - 1)) for g, c in counts.items()), default=0
            )
        else:
            cover = sum(
                c * (len(g) - (n - 1)) for g, c in counts.items() if c >= 2
            )
        frac = min(1.0, cover / token_chars) if token_chars > 0 else 0.0
        out[f"{'top' if kind == 'top' else 'dup'}_{n}gram_frac"] = frac
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=docs_strategy)
def test_repetition_stats_matches_naive_spec(spark, texts):
    from us_dot_flights_lakehouse_spark.llm.textstats import repetition_stats

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    for i, t in enumerate(texts):
        want = _naive_repetition(t)
        for key, val in want.items():
            assert got[i][key] == val, (t, key, got[i][key], val)


texts_strategy = st.lists(
    st.text(
        alphabet=st.sampled_from("ab c\tA.!"), min_size=0, max_size=40
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=texts_strategy)
def test_char_gini_fold_matches_counter_spec(spark, texts):
    """The sorted-run-length Σc² fold equals the naive Counter spec on
    arbitrary text (unicode ws, empties, repeated chars)."""
    import re
    from collections import Counter

    from pyspark.sql import functions as F
    from us_dot_flights_lakehouse_spark.queries.text_q import ts_char_gini

    # drive the same expression tree through a literal frame
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    import sys as _sys

    # rebuild the query's projection against this frame (same code path:
    # feed via a patched read_corpus in the DEFINING module, whose
    # globals the function resolves)
    mod = _sys.modules[ts_char_gini.__module__]
    orig = mod.read_corpus
    mod.read_corpus = lambda _s, _d, _t: df
    try:
        got = {
            r["doc_id"]: r for r in ts_char_gini(spark, "ignored").collect()
        }
    finally:
        mod.read_corpus = orig
    for i, t in enumerate(texts):
        s = re.sub(r"\s+", "", t.lower())
        if not s:  # whitespace-only docs are excluded by contract
            assert i not in got
            continue
        c = Counter(s)
        sumsq = sum(v * v for v in c.values())
        assert got[i]["n_chars_nospace"] == len(s)
        assert got[i]["char_sumsq"] == sumsq
        assert got[i]["char_gini"] == 1.0 - sumsq / (len(s) * len(s))


series_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 30), st.floats(-100, 100)),
    min_size=1,
    max_size=24,
    unique_by=lambda r: (r[0], r[1]),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=series_strategy)
def test_ewma_kernel_matches_python_recurrence(spark, rows):
    """The grouped-map EWMA fold equals the plain-Python recurrence
    bit-for-bit on arbitrary (user, hour, value) series."""
    import datetime

    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 1, 1)
    data = [
        (u, base + datetime.timedelta(hours=h), v) for u, h, v in rows
    ]
    df = spark.createDataFrame(data, "user_id long, ts timestamp, value double")
    import sys as _sys

    from us_dot_flights_lakehouse_spark.queries import window_q

    mod = _sys.modules[window_q.w12_ewma_smoothing.__module__]
    orig = mod.read_table
    mod.read_table = lambda _s, _d, _t: df
    try:
        out = window_q.w12_ewma_smoothing(spark, "ignored").collect()
    finally:
        mod.read_table = orig
    got = {(r["user_id"], r["hour"]): r["ewma"] for r in out}
    from collections import defaultdict

    series = defaultdict(list)
    for u, ts, v in data:
        series[u].append((ts, v))
    a = 0.25
    for u, pts in series.items():
        # the query sums per hour in exact decimal first; with unique
        # hours each bucket is the single value rounded to cents
        prev = None
        for ts, v in sorted(pts):
            x = float(round(__import__("decimal").Decimal(v).quantize(
                __import__("decimal").Decimal("0.01"),
                rounding="ROUND_HALF_UP"), 2))
            prev = x if prev is None else a * x + (1.0 - a) * prev
            assert got[(u, ts)] == prev
