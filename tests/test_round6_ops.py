"""Hand-value semantics tests for the round-6 session-3 operators —
the third verification leg beside the DuckDB oracle (two SFs) and the
registry-wide schema guard: tiny planted inputs with by-hand expected
values, exercising the edge cases the real tables may never hit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_ranker_auc_tie_averaged_rank_sum(spark, monkeypatch):
    """AUC on a 6-doc corpus with score ties, checked against the
    by-hand Mann-Whitney value (ties get average ranks)."""
    from us_dot_flights_lakehouse_spark.queries import tokpack_q

    # scores (token counts) / labels: pos={en}, neg=rest
    #   neg: 1 token, 2 tokens ; pos: 2, 3 ; neg: 3 ; pos: 4
    rows = [
        (0, "a", "fr"),
        (1, "a b", "de"),
        (2, "a b", "en"),
        (3, "a b c", "en"),
        (4, "a b c", "zh"),
        (5, "a b c d", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    monkeypatch.setattr(tokpack_q, "read_table", lambda s, d, n: docs)
    out = tokpack_q.tp_ranker_auc(spark, "ignored").collect()[0]
    # ranks: score1 -> 1; score2 pair -> (2+3)/2 = 2.5 each;
    #        score3 pair -> 4.5 each; score4 -> 6
    # sum ranks over positives = 2.5 + 4.5 + 6 = 13 -> 2x = 26
    assert out["n_pos"] == 3 and out["n_neg"] == 3
    assert out["sum2_ranks_pos"] == 26
    # AUC = (13 - 3*4/2) / (3*3) = 7/9
    assert out["auc"] == pytest.approx(7.0 / 9.0, abs=1e-12)


def test_weighted_median_prefers_volume_over_rows(spark, monkeypatch):
    """One heavy line outweighs many light ones: the weighted median
    lands on the heavy price while the row median would not."""
    from us_dot_flights_lakehouse_spark.queries import agg_q

    rows = [("A", 10.0, 1.0), ("A", 20.0, 1.0), ("A", 30.0, 1.0),
            ("A", 100.0, 50.0)]
    li = spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double, l_quantity double"
    )
    monkeypatch.setattr(agg_q, "read_table", lambda s, d, n: li)
    out = agg_q.a30_weighted_median(spark, "ignored").collect()[0]
    # total weight 53; cum at 10/20/30 = 1/2/3 (2*3 < 53); at 100 -> 53
    assert out["weighted_median_price"] == 100.0
    assert out["total_weight"] == 53.0
    assert out["n_prices"] == 4


def test_kcore_peels_path_and_keeps_clique(spark, monkeypatch):
    """A 4-clique (degree 3) survives K=3 peeling; a pendant path dies
    round by round (parallel peel: each round removes the current
    degree<3 frontier)."""
    from us_dot_flights_lakehouse_spark.queries import join_q

    mod = join_q.TRIANGLE_NODE_MOD
    # nodes are multiples of TRIANGLE_NODE_MOD so the sample gate keeps them
    a, b, c, d, e, f = (mod * i for i in range(1, 7))
    # 4-clique {a,b,c,d} via one basket, plus path d-e, e-f via pair baskets
    baskets = [
        (1, a), (1, b), (1, c), (1, d),
        (2, d), (2, e),
        (3, e), (3, f),
    ]
    li = spark.createDataFrame(baskets, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(join_q, "read_table", lambda s, d_, n: li)
    out = {r["p_partkey"]: r for r in join_q.g3_kcore_decompose(spark, "x").collect()}
    for node in (a, b, c):
        assert out[node]["peel_round"] is None
        assert out[node]["degree_final"] == 3
    # f (deg 1) and e (deg 2) both peel in round 1 (parallel frontier);
    # d then keeps exactly its 3 clique edges and survives
    assert out[f]["peel_round"] == 1 and out[f]["degree_final"] == 0
    assert out[e]["peel_round"] == 1 and out[e]["degree_final"] == 0
    assert out[d]["peel_round"] is None and out[d]["degree_final"] == 3
    assert out[d]["degree0"] == 4


def test_attribution_last_touch_and_direct_null(spark, monkeypatch):
    """Purchase credits the LATEST prior touch; a purchase with no prior
    touch surfaces with NULL attribution instead of being dropped."""
    import datetime as dt

    from us_dot_flights_lakehouse_spark.queries import window_q

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(mins):
        return t0 + dt.timedelta(minutes=mins)

    rows = [
        (1, ts(0), 7, "purchase", 1.0, None),   # direct: nothing before
        (2, ts(1), 7, "view", 1.0, None),
        (3, ts(5), 7, "click", 1.0, None),
        (4, ts(8), 7, "error", 1.0, None),       # not a touch
        (5, ts(10), 7, "purchase", 1.0, None),   # credits click@5
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(window_q, "read_table", lambda s, d, n: events)
    out = {r["purchase_event_id"]: r for r in window_q.w20_attribution(spark, "x").collect()}
    assert out[1]["touch_event_id"] is None and out[1]["gap_minutes"] is None
    assert out[5]["touch_event_id"] == 3
    assert out[5]["touch_type"] == "click"
    assert out[5]["gap_minutes"] == pytest.approx(5.0)


def test_heaps_law_monotone_and_beta_range(spark, monkeypatch):
    """Vocabulary curve is monotone non-decreasing; a corpus where every
    doc repeats ONE token pins beta at 0 after the first decile."""
    from us_dot_flights_lakehouse_spark.queries import text_q

    docs = spark.createDataFrame(
        [(i, "same same same") for i in range(10)],
        "doc_id long, text string",
    )
    monkeypatch.setattr(text_q, "read_corpus", lambda s, d, n: docs)
    rows = sorted(
        text_q.ts_heaps_law(spark, "x").collect(), key=lambda r: r["decile"]
    )
    vocab = [r["vocab"] for r in rows]
    toks = [r["cum_tokens"] for r in rows]
    assert vocab == sorted(vocab) and toks == sorted(toks)
    assert vocab[-1] == 1  # single-token vocabulary
    for r in rows[1:]:
        if r["heaps_beta"] is not None:
            assert r["heaps_beta"] == 0.0  # no new vocab ever arrives


def test_mutual_information_independent_is_zero(spark, monkeypatch):
    """A perfectly independent 2x2 contingency gives PMI = 0 in every
    cell (expected == observed)."""
    from us_dot_flights_lakehouse_spark.queries import agg_q

    rows = [
        ("F", "1-URGENT"), ("F", "2-HIGH"),
        ("O", "1-URGENT"), ("O", "2-HIGH"),
    ] * 5
    orders = spark.createDataFrame(
        rows, "o_orderstatus string, o_orderpriority string"
    )
    monkeypatch.setattr(agg_q, "read_table", lambda s, d, n: orders)
    for r in agg_q.a28_mutual_information(spark, "x").collect():
        assert r["pmi"] == pytest.approx(0.0, abs=1e-12)
        assert r["mi_term"] == pytest.approx(0.0, abs=1e-12)
        assert r["expected"] == pytest.approx(r["n_cell"])


def test_x9_bucketed_join_plan_is_exchange_free(spark):
    """The bucketed fact-fact join must plan with NO Exchange below the
    join — the co-location contract the x9 layout pays for at publish
    time; only the final status rollup may shuffle."""
    from us_dot_flights_lakehouse_spark.queries import audit_q

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = audit_q.x9_bucketed_join(spark, "/root/testdata/sf0.001")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        # the only hash exchange is the final status rollup
        assert final.count("Exchange hashpartitioning") == 1
        assert "Exchange hashpartitioning(l_orderkey" not in final
        assert "Exchange hashpartitioning(o_orderkey" not in final
        assert "SelectedBucketsCount" in final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_label_propagation_finds_planted_communities(spark, monkeypatch):
    """Two 4-cliques joined by one bridge edge resolve to two
    communities, each labeled by its smallest member."""
    from us_dot_flights_lakehouse_spark.queries import join_q

    mod = join_q.TRIANGLE_NODE_MOD
    c1 = [mod * i for i in range(1, 5)]
    c2 = [mod * i for i in range(10, 14)]
    rows = [(1, p) for p in c1] + [(2, p) for p in c2] + [
        (3, c1[-1]), (3, c2[0]),  # bridge basket
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(join_q, "read_table", lambda s, d, n: li)
    out = {r["p_partkey"]: r for r in join_q.g4_label_propagation(spark, "x").collect()}
    for p in c1:
        assert out[p]["community"] == c1[0]
    for p in c2:
        assert out[p]["community"] == c2[0]
    assert out[c1[0]]["community_size"] == 4
    assert out[c2[0]]["community_size"] == 4


def test_g4_driver_lpa_equals_distributed(spark, monkeypatch):
    """r13: the cap-bounded driver LPA kernel must produce EXACTLY the
    distributed loop's labels — same vote multiset (neighbors + self),
    same (count desc, label asc) argmax — on random graphs including
    tie-heavy ones. Cap=-1 forces the distributed path for comparison."""
    import random

    from us_dot_flights_lakehouse_spark.queries import join_q

    mod = join_q.TRIANGLE_NODE_MOD
    rng = random.Random(7)
    for trial in range(3):
        n_orders = rng.randint(3, 10)
        rows = []
        for o in range(1, n_orders + 1):
            for p in rng.sample(range(1, 15), rng.randint(2, 6)):
                rows.append((o, p * mod))
        li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
        monkeypatch.setattr(
            join_q, "read_table",
            lambda s, d, n: li,
        )
        got_driver = sorted(
            map(tuple, join_q.g4_label_propagation(spark, "x").collect())
        )
        saved_cap = join_q.DRIVER_LPA_MAX_EDGES
        monkeypatch.setattr(join_q, "DRIVER_LPA_MAX_EDGES", -1)
        got_dist = sorted(
            map(tuple, join_q.g4_label_propagation(spark, "x").collect())
        )
        monkeypatch.setattr(join_q, "DRIVER_LPA_MAX_EDGES", saved_cap)
        assert got_driver == got_dist, f"trial {trial}"
