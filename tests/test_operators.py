"""Unit tests for the relational operator library on tiny in-memory frames
(SURVEY.md §5 implication: per-operator tests the reference never had)."""

from __future__ import annotations

from pyspark.sql import functions as F

from us_dot_flights_lakehouse_spark.operators.aggregates import (
    conditional_avg,
    conditional_count,
    dec_sum,
)
from us_dot_flights_lakehouse_spark.operators.generators import (
    date_range_df,
    minute_of_day_df,
)
from us_dot_flights_lakehouse_spark.operators.joins import (
    enrich_join,
    outer_merge_coalesce,
)
from us_dot_flights_lakehouse_spark.operators.setops import union_distinct


def test_conditional_count_and_avg_ignore_nonmatching(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 0, 99.0), ("b", 1, 20.0), ("b", 1, 30.0)],
        "k string, flag int, v double",
    )
    out = {
        r["k"]: r
        for r in df.groupBy("k")
        .agg(
            conditional_count(F.col("flag") == 1, "n_flagged"),
            conditional_avg(F.col("flag") == 1, F.col("v"), "avg_flagged"),
        )
        .collect()
    }
    assert out["a"]["n_flagged"] == 1
    assert out["a"]["avg_flagged"] == 10.0  # the 99.0 row is ignored, not zeroed
    assert out["b"]["avg_flagged"] == 25.0


def test_conditional_avg_null_when_no_match(spark):
    df = spark.createDataFrame([("a", 0, 5.0)], "k string, flag int, v double")
    row = (
        df.groupBy("k")
        .agg(conditional_avg(F.col("flag") == 1, F.col("v"), "avg_flagged"))
        .collect()[0]
    )
    assert row["avg_flagged"] is None  # divide-by-zero -> NULL, reference semantics


def test_dec_sum_exact(spark):
    # 0.1 + 0.2 in binary float is 0.30000000000000004; decimal path is exact
    df = spark.createDataFrame([(0.1,), (0.2,)], "v double")
    assert df.agg(dec_sum("v", "s")).collect()[0]["s"] == 0.3


def test_outer_merge_coalesce_keeps_unmatched_sides(spark):
    left = spark.createDataFrame([("d1", 1), ("d2", 2)], "ld string, n_l int")
    right = spark.createDataFrame([("d2", 20), ("d3", 30)], "rd string, n_r int")
    rows = {
        r["d"]: (r["n_l"], r["n_r"])
        for r in outer_merge_coalesce(left, right, [("ld", "rd", "d")]).collect()
    }
    assert rows == {"d1": (1, None), "d2": (2, 20), "d3": (None, 30)}


def test_union_distinct(spark):
    a = spark.createDataFrame([(1,), (2,)], "k int")
    b = spark.createDataFrame([(2,), (3,)], "k int")
    assert sorted(r["k"] for r in union_distinct(a, b).collect()) == [1, 2, 3]


def test_enrich_join_left_keeps_unmatched(spark):
    base = spark.createDataFrame([(1, "x"), (9, "y")], "fk int, payload string")
    lookup = spark.createDataFrame([(1, "one")], "code int, name string")
    rows = {
        r["fk"]: r["name"]
        for r in enrich_join(base, lookup, base.fk == lookup.code).collect()
    }
    assert rows == {1: "one", 9: None}


def test_date_range_generator(spark):
    df = date_range_df(spark, "2024-02-27", "2024-03-02")
    days = sorted(str(r["full_date"]) for r in df.collect())
    assert days == ["2024-02-27", "2024-02-28", "2024-02-29", "2024-03-01", "2024-03-02"]


def test_minute_of_day_generator(spark):
    df = minute_of_day_df(spark)
    assert df.count() == 1440
    assert df.agg(F.min("time_key"), F.max("time_key")).collect()[0] == (0, 1439)


def test_semi_and_anti_join_partition_rows(spark):
    from us_dot_flights_lakehouse_spark.operators.joins import anti_join, semi_join

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    keys = spark.createDataFrame([(1,), (1,), (3,)], "k int")  # dup key: no fan-out
    semi = semi_join(df, keys, "k").collect()
    anti = anti_join(df, keys, "k").collect()
    assert sorted(r["k"] for r in semi) == [1, 3]  # no duplication from dup probe
    assert [r["k"] for r in anti] == [2]


def test_intersect_and_except_distinct(spark):
    from us_dot_flights_lakehouse_spark.operators.setops import (
        except_distinct,
        intersect_distinct,
    )

    a = spark.createDataFrame([(1,), (1,), (2,), (3,)], "k int")
    b = spark.createDataFrame([(1,), (3,), (3,), (4,)], "k int")
    assert sorted(r["k"] for r in intersect_distinct(a, b).collect()) == [1, 3]
    # set difference, not multiset: the surplus (1,) occurrence must NOT survive
    assert sorted(r["k"] for r in except_distinct(a, b).collect()) == [2]


def test_rollup_and_cube_levels(spark):
    from us_dot_flights_lakehouse_spark.operators.aggregates import cube_agg, rollup_agg

    df = spark.createDataFrame(
        [("x", "p", 1), ("x", "q", 2), ("y", "p", 4)], "a string, b string, n int"
    )
    aggs = [F.sum("n").alias("s"), F.grouping_id().alias("gid")]
    roll = rollup_agg(df, ["a", "b"], aggs).collect()
    # 3 leaf rows + 2 per-a subtotals + 1 grand total
    assert len(roll) == 6
    assert {r["s"] for r in roll if r["gid"] == 3} == {7}
    cube = cube_agg(df, ["a", "b"], aggs).collect()
    # cube adds the 2 per-b subtotals
    assert len(cube) == 8
    b_subs = {r["b"]: r["s"] for r in cube if r["gid"] == 2}
    assert b_subs == {"p": 5, "q": 2}


def test_salted_join_matches_plain_join(spark):
    from us_dot_flights_lakehouse_spark.operators.joins import salted_join

    # one hot key (90% of rows) + tail keys
    skewed = spark.createDataFrame(
        [(1, i) for i in range(90)] + [(2, 900), (3, 901)], "k int, payload int"
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "a"), (4, "unused")], "dk int, name string")
    got = salted_join(skewed, dim, "k", "dk", n_salts=4).collect()
    want = skewed.join(dim, skewed["k"] == dim["dk"]).collect()
    key = lambda r: (r["k"], r["payload"], r["name"])
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert "__salt" not in "".join(salted_join(skewed, dim, "k", "dk").columns)


def test_cached_context_manager_releases(spark):
    from us_dot_flights_lakehouse_spark.operators.physical import cached

    df = spark.range(100)
    with cached(df) as c:
        assert c.storageLevel.useMemory
        assert c.count() == 100
    assert not df.storageLevel.useMemory  # unpersisted on exit


def test_partition_histogram_counts_all_rows(spark):
    from us_dot_flights_lakehouse_spark.operators.physical import partition_histogram

    df = spark.range(1000).repartition(8)
    hist = partition_histogram(df)
    assert len(hist) == 8
    assert sum(hist) == 1000


def test_cloud_conf_builders_shape():
    from us_dot_flights_lakehouse_spark.sources.cloud import (
        abfss_oauth_confs,
        abfss_shared_key_confs,
        gcs_confs,
        s3a_confs,
    )

    az = abfss_oauth_confs("acct", "cid", "secret", "tenant")
    assert az["fs.azure.account.auth.type.acct.dfs.core.windows.net"] == "OAuth"
    assert "tenant" in az["fs.azure.account.oauth2.client.endpoint.acct.dfs.core.windows.net"]
    assert abfss_shared_key_confs("acct", "k") == {
        "fs.azure.account.key.acct.dfs.core.windows.net": "k"
    }
    s3 = s3a_confs("ak", "sk")
    assert s3["fs.s3a.committer.name"] == "magic"
    assert s3["fs.s3a.access.key"] == "ak"
    assert "fs.s3a.access.key" not in s3a_confs()  # credential-chain fallback
    assert gcs_confs("proj")["fs.gs.project.id"] == "proj"


def test_asof_join_backward_match_and_ties(spark):
    from us_dot_flights_lakehouse_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 7, "d")],
        "k int, t int, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 15, 2.0), (2, 99, 3.0)], "k int, t int, rv double"
    )
    out = {
        (r.k, r.t): (r.t_matched, r.rv)
        for r in asof_join(left, right, ["k"], "t", "t", ["rv"]).collect()
    }
    assert out[(1, 10)] == (10, 1.0)  # equal ts matches (>= semantics)
    assert out[(1, 20)] == (15, 2.0)  # latest at-or-before
    assert out[(1, 5)] == (None, None)  # nothing before
    assert out[(2, 7)] == (None, None)  # right is after left


def test_asof_join_null_payload_still_matches(spark):
    from pyspark.sql import functions as F
    from us_dot_flights_lakehouse_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 20)], "k int, t int")
    right = spark.createDataFrame(
        [(1, 5, 1.0), (1, 10, None)], "k int, t int, rv double"
    )
    # the matching row (t=10) has a NULL payload; struct packing must keep
    # it from skipping back to t=5
    row = asof_join(left, right, ["k"], "t", "t", ["rv"]).collect()[0]
    assert row.t_matched == 10 and row.rv is None


def test_asof_join_tolerance(spark):
    from pyspark.sql import functions as F
    from us_dot_flights_lakehouse_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 100), (1, 200)], "k int, t int")
    right = spark.createDataFrame([(1, 95, 1.0), (1, 150, 2.0)], "k int, t int, rv double")
    out = {
        (r.k, r.t): (r.t_matched, r.rv)
        for r in asof_join(
            left, right, ["k"], "t", "t", ["rv"], tolerance=F.lit(10)
        ).collect()
    }
    assert out[(1, 100)] == (95, 1.0)  # within 10
    assert out[(1, 200)] == (None, None)  # 150 < 200-10 → out of tolerance


def test_asof_join_single_shuffle_plan(spark):
    from us_dot_flights_lakehouse_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10, "a")], "k int, t int, tag string")
    right = spark.createDataFrame([(1, 5, 1.0)], "k int, t int, rv double")
    plan = (
        asof_join(left, right, ["k"], "t", "t", ["rv"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # union-tag algorithm: exactly one exchange (on k), never a join node
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_bucketed_range_join_matches_naive(spark):
    from us_dot_flights_lakehouse_spark.operators.joins import bucketed_range_join

    points = spark.range(0, 100).selectExpr("id AS pk", "CAST(id AS DOUBLE) AS x")
    intervals = spark.createDataFrame(
        [(0, 0.0, 30.0), (1, 25.0, 26.0), (2, 90.0, 150.0), (3, 99.0, 100.0)],
        "iv int, lo double, hi double",
    )
    got = sorted(
        (r.pk, r.iv)
        for r in bucketed_range_join(
            points, intervals, "x", "lo", "hi", bucket_width=10.0
        ).collect()
    )
    naive = sorted(
        (r.pk, r.iv)
        for r in points.join(
            intervals,
            (points.x >= intervals.lo) & (points.x < intervals.hi),
        ).collect()
    )
    assert got == naive and len(got) > 0


def test_bucketed_range_join_plans_equi_join(spark):
    from us_dot_flights_lakehouse_spark.operators.joins import bucketed_range_join

    points = spark.range(0, 10).selectExpr("CAST(id AS DOUBLE) AS x")
    intervals = spark.createDataFrame([(0.0, 5.0)], "lo double, hi double")
    plan = (
        bucketed_range_join(points, intervals, "x", "lo", "hi", 2.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the bin trick must hash-join on the bucket key, not nested-loop
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_a12_sketch_error_bounds(spark, sf_small):
    """Numeric companion to the a12 boolean assertions: the HLL counts land
    within 3-sigma of their rsd against exact distincts, and the GK
    percentile values sit at most a few ranks off the exact quantile."""
    from us_dot_flights_lakehouse_spark.sources.readers import read_table

    lineitem = read_table(spark, sf_small, "lineitem")
    agg = lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("ap"),
        F.approx_count_distinct("l_suppkey", rsd=0.01).alias("asu"),
        F.count_distinct("l_partkey").alias("ep"),
        F.count_distinct("l_suppkey").alias("es"),
        F.percentile_approx("l_extendedprice", F.lit([0.5, 0.9, 0.99]), 10000).alias("qs"),
        F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").alias("eq"),
    )
    for r in agg.collect():
        assert abs(r["ap"] - r["ep"]) <= 0.15 * r["ep"]
        assert abs(r["asu"] - r["es"]) <= 0.03 * r["es"]
        # GK with accuracy=10000 on sf0.001 groups (< 10000 rows) is exact
        # up to interpolation: approx returns a data value, exact
        # interpolates — allow the one-rank gap
        for approx_v, exact_v in zip(r["qs"], r["eq"]):
            assert abs(float(approx_v) - float(exact_v)) <= 0.01 * max(1.0, float(exact_v))


def test_scd2_from_changelog_collapses_repeats(spark):
    from datetime import datetime

    from us_dot_flights_lakehouse_spark.operators.scd import scd2_from_changelog

    t = lambda m: datetime(2026, 1, 1, 0, m)
    log = spark.createDataFrame(
        [
            (1, "A", t(0), 100),
            (1, "A", t(5), 101),   # repeat -> collapsed
            (1, "B", t(10), 102),
            (1, "A", t(20), 103),  # back to A -> NEW version, not merged
            (2, "X", t(3), 104),
        ],
        "k long, s string, ts timestamp, eid long",
    )
    rows = sorted(
        scd2_from_changelog(log, ["k"], "s", "ts", "eid").collect(),
        key=lambda r: (r["k"], r["version"]),
    )
    hist1 = [(r["state"], r["effective_from"], r["effective_to"], r["is_current"], r["version"])
             for r in rows if r["k"] == 1]
    assert hist1 == [
        ("A", t(0), t(10), False, 1),
        ("B", t(10), t(20), False, 2),
        ("A", t(20), None, True, 3),
    ]
    assert [(r["state"], r["is_current"], r["version"]) for r in rows if r["k"] == 2] == [
        ("X", True, 1)
    ]


def test_scd2_apply_updates_merge_semantics(spark):
    from datetime import datetime

    from us_dot_flights_lakehouse_spark.operators.scd import (
        scd2_apply_updates,
        scd2_from_changelog,
    )

    t = lambda m: datetime(2026, 1, 1, 0, m)
    log = spark.createDataFrame(
        [(1, "A", t(0), 1), (1, "B", t(10), 2), (2, "X", t(0), 3)],
        "k long, s string, ts timestamp, eid long",
    )
    dim = scd2_from_changelog(log, ["k"], "s", "ts", "eid")
    updates = spark.createDataFrame(
        [
            (1, "C", t(30)),  # state change -> close B, open C v3
            (2, "X", t(30)),  # unchanged -> no-op
            (3, "N", t(30)),  # brand-new key -> open v1
        ],
        "k long, state string, ts timestamp",
    )
    out = sorted(
        scd2_apply_updates(dim, updates, ["k"]).collect(),
        key=lambda r: (r["k"], r["version"]),
    )
    assert [(r["k"], r["state"], r["effective_to"], r["is_current"], r["version"]) for r in out] == [
        (1, "A", t(10), False, 1),
        (1, "B", t(30), False, 2),
        (1, "C", None, True, 3),
        (2, "X", None, True, 1),
        (3, "N", None, True, 1),
    ]


def test_scd2_null_states_are_real_values(spark):
    """NULL is a legitimate state value (ADVICE r4): a NULL-state current
    row receiving a change must be CLOSED (not silently dropped), NULL→'x'
    and 'x'→NULL are real transitions in the changelog collapse, and
    NULL→NULL is a no-op on both paths."""
    from datetime import datetime

    from us_dot_flights_lakehouse_spark.operators.scd import (
        scd2_apply_updates,
        scd2_from_changelog,
    )

    t = lambda m: datetime(2026, 1, 1, 0, m)
    log = spark.createDataFrame(
        [
            (1, None, t(0), 1),   # opens with NULL state
            (1, None, t(5), 2),   # NULL -> NULL: collapsed
            (1, "A", t(10), 3),   # NULL -> A: real transition
            (2, "X", t(0), 4),
            (2, None, t(10), 5),  # X -> NULL: real transition
            (3, None, t(0), 6),   # stays NULL-current into the merge
        ],
        "k long, s string, ts timestamp, eid long",
    )
    dim = scd2_from_changelog(log, ["k"], "s", "ts", "eid")
    hist = sorted(
        [(r["k"], r["state"], r["is_current"], r["version"]) for r in dim.collect()]
        ,
        key=lambda x: (x[0], x[3]),
    )
    assert hist == [
        (1, None, False, 1),
        (1, "A", True, 2),
        (2, "X", False, 1),
        (2, None, True, 2),
        (3, None, True, 1),
    ]

    updates = spark.createDataFrame(
        [
            (2, None, t(30)),  # NULL -> NULL current: no-op
            (3, "B", t(30)),   # NULL current -> B: close v1, open v2
            (4, None, t(30)),  # new key opening with NULL state
        ],
        "k long, state string, ts timestamp",
    )
    out = sorted(
        scd2_apply_updates(dim, updates, ["k"]).collect(),
        key=lambda r: (r["k"], r["version"]),
    )
    assert [
        (r["k"], r["state"], r["effective_to"], r["is_current"], r["version"])
        for r in out
    ] == [
        (1, None, t(10), False, 1),
        (1, "A", None, True, 2),
        (2, "X", t(10), False, 1),
        (2, None, None, True, 2),
        (3, None, t(30), False, 1),  # the previously-dropped close
        (3, "B", None, True, 2),
        (4, None, None, True, 1),
    ]


def test_ordered_dense_ids_matches_global_rank(spark):
    from pyspark.sql import functions as F

    from us_dot_flights_lakehouse_spark.operators.physical import ordered_dense_ids

    df = spark.range(0, 5000).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id").alias("tie")
    )
    out = ordered_dense_ids(df, [F.asc("k"), F.asc("tie")], id_name="rid", n_partitions=8)
    rows = out.orderBy("rid").collect()
    # dense 0..n-1, and ids follow the (k, tie) total order exactly
    assert [r["rid"] for r in rows] == list(range(5000))
    keys = [(r["k"], r["tie"]) for r in rows]
    assert keys == sorted(keys)


def test_z_interleave_matches_reference_bits(spark):
    """Morton interleave: bit i of x at position 2i, bit i of y at 2i+1 —
    checked against a python reference on a coordinate grid, plus NULL
    propagation."""
    from pyspark.sql import functions as F

    from us_dot_flights_lakehouse_spark.operators.zorder import z_interleave

    def ref(x, y, bits=10):
        v = 0
        for i in range(bits):
            v |= ((x >> i) & 1) << (2 * i)
            v |= ((y >> i) & 1) << (2 * i + 1)
        return v

    pts = [(x, y) for x in (0, 1, 2, 3, 5, 1023) for y in (0, 1, 7, 512, 1023)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn(
            "z", z_interleave(F.col("x"), F.col("y"), bits=10)
        ).collect()
    }
    assert got == {(x, y): ref(x, y) for x, y in pts}

    null_row = spark.createDataFrame([(None, 3)], "x long, y long")
    assert (
        null_row.select(z_interleave(F.col("x"), F.col("y")).alias("z")).first()["z"]
        is None
    )


def test_write_zordered_files_are_tight_on_both_dims(spark, tmp_path):
    """The data-skipping property: after a z-ordered write, every file's
    min/max span on EACH coordinate is far below the full domain (a
    1-column sort gives this on one column only)."""
    from pyspark.sql import functions as F

    from us_dot_flights_lakehouse_spark.operators.zorder import write_zordered

    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") % 128).alias("x"),
        (F.floor(F.col("id") / 128) % 128).alias("y"),
        F.col("id").alias("payload"),
    )
    path = str(tmp_path / "zordered")
    write_zordered(df, path, "x", "y", bits=7, n_files=16)

    spans = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
        )
        .collect()
    )
    assert len(spans) >= 8
    # Full domain span is 127. Sampled range boundaries are not aligned to
    # curve blocks, so a file whose z-range straddles a high-bit quadrant
    # boundary can legitimately span a full dimension — the property is
    # statistical: MOST files are tight on BOTH dims, and the mean span is
    # far below the domain (a 1-column sort pins one dim's mean at ~127/n
    # and leaves the other at 127).
    n = len(spans)
    tight_both = sum(1 for r in spans if r["xs"] <= 63 and r["ys"] <= 63)
    assert tight_both >= n // 2, [(r["xs"], r["ys"]) for r in spans]
    assert sum(r["xs"] for r in spans) / n <= 80
    assert sum(r["ys"] for r in spans) / n <= 80


def test_dhash_image_contract(spark):
    """dHash: known bit pattern on a hand image, channel-mean grayscale,
    null pass-through, and the >63-bit size guard."""
    import numpy as np
    import pytest
    from us_dot_flights_lakehouse_spark.llm.multimodal import dhash_image

    # 3x2 grayscale: rows [10, 20, 5] and [7, 7, 9]
    # bits row-major: 20>10 -> 1, 5>20 -> 0, 7>7 -> 0, 9>7 -> 1  => 0b1001
    px = np.array([[10, 20, 5], [7, 7, 9]], dtype=np.uint8).tobytes()
    # RGB image whose channel floor-means reproduce the same grayscale
    rgb = np.repeat(
        np.array([[10, 20, 5], [7, 7, 9]], dtype=np.uint8)[:, :, None], 3, axis=2
    ).tobytes()
    df = spark.createDataFrame(
        [
            (1, 3, 2, "L", bytearray(px)),
            (2, 3, 2, "RGB", bytearray(rgb)),
            (3, None, None, None, None),
        ],
        "id long, width int, height int, mode string, pixels binary",
    )
    got = {r["id"]: r["dhash"] for r in dhash_image(df).collect()}
    assert got == {1: 0b1001, 2: 0b1001, 3: None}

    big = spark.createDataFrame(
        [(1, 9, 9, "L", bytearray(bytes(81)))],
        "id long, width int, height int, mode string, pixels binary",
    )
    with pytest.raises(Exception, match="dhash_image|exceed"):
        dhash_image(big).collect()


def test_phash_clusters_null_dhash_is_singleton(spark):
    """mm_phash_dedup's cluster tail: equal hashes cluster under their
    smallest id; each NULL-dhash row stays its own non-dup cluster, even
    when several rows share the NULL."""
    from us_dot_flights_lakehouse_spark.queries.mm_q import phash_clusters

    hashed = spark.createDataFrame(
        [(5, 7), (2, 7), (9, 8), (4, None), (1, None)], "id long, dhash long"
    )
    got = {
        r["doc_id"]: (r["dhash"], r["cluster_min"], r["is_dup"])
        for r in phash_clusters(hashed).collect()
    }
    assert got == {
        2: (7, 2, False),
        5: (7, 2, True),
        9: (8, 9, False),
        1: (None, 1, False),
        4: (None, 4, False),
    }


def test_frame_motion_null_contract(spark):
    """frame_motion emits a null-metric row for invalid blobs and exact
    sums for a known two-frame AVI — with NO exchange in the plan (the
    fused kernel's whole point)."""
    import numpy as np
    from us_dot_flights_lakehouse_spark.llm.multimodal import (
        avi_encode,
        frame_motion,
    )

    f0 = np.zeros((4, 4, 3), dtype=np.uint8)
    f1 = np.full((4, 4, 3), 2, dtype=np.uint8)
    blob = avi_encode(np.stack([f0, f1]), us_per_frame=40_000)
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"not a video")), (3, None)],
        "id long, payload binary",
    )
    out = frame_motion(df, every_ms=40)
    rows = {r["id"]: (r["n_sampled"], r["motion_total"]) for r in out.collect()}
    assert rows[1] == (2, 2 * 4 * 4 * 3)
    assert rows[2] == (None, None)
    assert rows[3] == (None, None)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
