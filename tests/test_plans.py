"""Physical-plan assertions — the scale contract, enforced.

Correctness tests prove the numbers; these prove the PLAN is the one we
want at 100 TB: filters reach the parquet scan, projections prune the read
schema, small dims broadcast instead of shuffling, top-k never global-sorts,
and hot expression paths stay inside whole-stage codegen.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from us_dot_flights_lakehouse_spark.queries.agg_q import (
    a5_topk_parts,
    daily_segment_performance,
)
from us_dot_flights_lakehouse_spark.queries.join_q import (
    j2_star_fact_build,
    j6_semi_high_value_customers,
)

SF = "/root/testdata/sf0.001"


def _plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    qe = df._jdf.queryExecution()
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_totalprice") > 200000)
        .select("o_orderkey", "o_totalprice")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(o_totalprice" in plan


def test_column_pruning_reaches_read_schema(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # the 11-column table must be read as exactly the 2 projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_flagship_broadcasts_the_dim_side(spark):
    plan = _plan(daily_segment_performance(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # no shuffle-sort of the fact side


def test_star_fact_build_is_all_broadcast_joins(spark):
    plan = _plan(j2_star_fact_build(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_semi_join_stays_semi(spark):
    plan = _plan(j6_semi_high_value_customers(spark, SF))
    assert "LeftSemi" in plan


def test_topk_uses_take_ordered_not_global_sort(spark):
    plan = _plan(a5_topk_parts(spark, SF), mode="simple")
    assert "TakeOrderedAndProject" in plan


def test_agg_is_partial_then_final(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity"))
    )
    plan = _plan(df, mode="simple")
    # map-side combine: two HashAggregates around the exchange
    assert plan.count("HashAggregate") == 2
    assert "partial_sum" in plan


def test_hot_path_stays_in_codegen(spark):
    df = daily_segment_performance(spark, SF)
    df.collect()  # AQE only shows codegen spans once the plan is final
    plan = _plan(df, mode="simple")
    assert "isFinalPlan=true" in plan
    # '*(n)' marks operators fused into a WholeStageCodegen span; the final
    # aggregate and the KPI projection must both be inside one
    assert "*(" in plan
    assert "*(4) HashAggregate" in plan or "HashAggregate" in plan.split("*(")[1]


def test_conditional_cleaning_has_no_python_udf(spark):
    from us_dot_flights_lakehouse_spark.queries.funcs_q import p4_conditional_cleaning

    plan = _plan(p4_conditional_cleaning(spark, SF), mode="simple")
    assert "BatchEvalPython" not in plan  # row-at-a-time Python would kill scan speed
    assert "ArrowEvalPython" not in plan


def test_multiway_join_broadcasts_all_dims(spark):
    from us_dot_flights_lakehouse_spark.queries.join_q import j10_regional_revenue

    plan = (
        j10_regional_revenue(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # every dim join must broadcast; the fact side must never sort-merge
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    # the selective region predicate must reach the region scan
    assert "EqualTo(r_name,ASIA)" in plan


def test_pack_sequences_window_is_shard_partitioned(spark):
    """The packing window must hash-partition on the shard key — a global
    (single-partition) window would serialize the corpus through one task
    at 100 TB."""
    from us_dot_flights_lakehouse_spark.llm.curation import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pack_sequences(docs, budget=512), mode="simple")
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan


def test_tfidf_has_partial_aggregates_and_no_python(spark):
    from us_dot_flights_lakehouse_spark.llm.curation import tfidf_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(tfidf_topk(docs, k=3), mode="simple")
    assert "partial_count" in plan  # map-side combine on the token explode
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_embedding_neardup_blocks_join_is_broadcast(spark):
    """The block-pair assignment joins a tiny (B*(B+1)/2)-row relation —
    it must broadcast, never shuffle the vector side for it."""
    from us_dot_flights_lakehouse_spark.llm.dedup import embedding_neardup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(embedding_neardup_pairs(emb, threshold=0.9), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan  # executor-side kernel, no collect


def test_partitioned_read_prunes_partitions(spark, tmp_path_factory):
    from pyspark.sql import functions as F
    from us_dot_flights_lakehouse_spark.sources.writers import write_partitioned

    base = str(tmp_path_factory.mktemp("pruning") / "t")
    df = spark.range(0, 1000).withColumn("pt", F.col("id") % 10)
    write_partitioned(df, base, partition_by=["pt"])
    scan = spark.read.parquet(base).where(F.col("pt") == 3)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # the partition predicate must prune at the directory level,
    # not run as a row filter post-scan
    assert "PartitionFilters: [isnotnull(pt" in plan or "PartitionFilters: [(pt" in plan
    assert scan.count() == 100


def test_rag_pipeline_joins_on_buckets_not_cartesian(spark):
    """The RAG retrieval join must key on the LSH bucket — a cartesian
    (all-chunks x probe-chunks) plan would defeat the index entirely."""
    from us_dot_flights_lakehouse_spark.queries.tokpack_q import tp_rag_pipeline

    plan = _plan(tp_rag_pipeline(spark, SF))
    assert "CartesianProduct" not in plan
    assert "bucket" in plan


def test_rolling_anomaly_has_no_sliding_frame(spark):
    """w8 computes 24-row sums as running-total differences; a
    ROWS BETWEEN 23 PRECEDING frame in the plan means the O(frame)-per-row
    regression crept back (24.6 s vs 8.1 s at sf0.1)."""
    from us_dot_flights_lakehouse_spark.queries.window_q import w8_rolling_anomaly

    plan = _plan(w8_rolling_anomaly(spark, SF))
    assert "23 PRECEDING" not in plan.upper()


def test_bpe_pair_counts_aggregates_partially(spark):
    """Both aggregations (word counts, pair counts) must plan
    partial+final — map-side combine is what keeps the corpus-sized
    first shuffle small."""
    from us_dot_flights_lakehouse_spark.queries.tokpack_q import tp_bpe_pair_counts

    plan = _plan(tp_bpe_pair_counts(spark, SF))
    assert plan.count("HashAggregate") >= 4  # 2 aggs x (partial + final)
    assert "CartesianProduct" not in plan


def test_feature_hash_has_single_exchange(spark):
    """sim_feature_hash pre-partitions the (doc, bucket, sign) pairs by
    doc_id, which satisfies BOTH downstream groupings ((doc, bucket) ⊇
    doc) — exactly one Exchange in the plan. A second exchange means the
    partitioning contract broke and the aggregates re-shuffle."""
    from us_dot_flights_lakehouse_spark.queries.sim_q import sim_feature_hash

    plan = _plan(sim_feature_hash(spark, SF), mode="simple")
    assert plan.count("Exchange") == 1, plan


def test_equidepth_histogram_has_no_global_sort(spark, monkeypatch):
    """a20 (r13): below the histogram cap the whole result is a bounded
    local relation (driver rank selection over one codegen histogram
    aggregate) — no Sort, no Window, no second scan. Over the cap the
    previous broadcast-boundaries shape must come back: a global Sort or
    an ntile window funnel would be the 100 TB anti-pattern either way."""
    from us_dot_flights_lakehouse_spark.queries.agg_q import a20_equidepth_histogram

    plan = _plan(a20_equidepth_histogram(spark, SF))
    assert "Sort" not in plan and "Window" not in plan
    assert "Exchange" not in plan  # bounded local relation

    import us_dot_flights_lakehouse_spark.operators.quantiles as q

    monkeypatch.setattr(q, "DRIVER_HIST_MAX_ROWS", 0)
    plan = _plan(a20_equidepth_histogram(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan
    assert "Window" not in plan  # no ntile/rank funnel — buckets come
    #   from the broadcast percentile boundaries


def test_copurchase_pairs_have_no_lineitem_self_join(spark):
    """a22 expands pairs inside the per-order basket array — the plan
    must contain exactly the lineitem scans the aggregate needs (basket
    collect + item counts), never a lineitem⋈lineitem join."""
    from us_dot_flights_lakehouse_spark.queries.agg_q import a22_copurchase_lift

    plan = _plan(a22_copurchase_lift(spark, SF))
    assert "SortMergeJoin" not in plan  # pair join sides are aggregates


def test_winsorize_bounds_join_is_broadcast(spark):
    from us_dot_flights_lakehouse_spark.queries.funcs_q import p8_winsorize

    plan = _plan(p8_winsorize(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_prefix_clusters_single_fingerprint_shuffle(spark):
    """dd_prefix_clusters: one md5 per doc, one groupBy on the 16-byte
    key, join back — no Python, no extra exchanges beyond the two
    aggregate/join hash exchanges."""
    from us_dot_flights_lakehouse_spark.queries.dedup_q import dd_prefix_clusters

    plan = _plan(dd_prefix_clusters(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ewma_is_grouped_map_not_hof_fold(spark):
    """w12 must fold in the Arrow grouped-map kernel (FlatMapGroupsInPandas),
    not an interpreted HOF that copies the accumulator array per step."""
    from us_dot_flights_lakehouse_spark.queries.window_q import w12_ewma_smoothing

    plan = _plan(w12_ewma_smoothing(spark, SF))
    assert "FlatMapGroupsInPandas" in plan
    assert "aggregate(" not in plan  # no HOF fold in the hot path


def test_dsir_token_join_aggregates_partially(spark):
    """tp_dsir_weights: the word-count aggregate must be partial+final
    (map-side combine) so the token shuffle carries counts, not tokens."""
    from us_dot_flights_lakehouse_spark.queries.tokpack_q import tp_dsir_weights

    plan = _plan(tp_dsir_weights(spark, SF))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_advised_join_broadcast_advice_drives_broadcast_plan(spark):
    """advised_join with strategy='broadcast' must plan a
    BroadcastHashJoin — the advisor's recommendation IS the plan
    (VERDICT r12 item 3)."""
    from us_dot_flights_lakehouse_spark.operators.joins import advised_join

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    advice = {"strategy": "broadcast", "recommended_partitions": 7}
    df = advised_join(orders, cust, ["o_custkey"], ["c_custkey"], advice)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_advised_join_shuffle_advice_forces_shuffled_join(spark):
    """strategy='shuffle' must force the shuffled sort-merge join even
    when the right side is small enough that Catalyst's byte-size
    estimate would auto-broadcast it — the advisor's row-based verdict,
    not the size stat, owns the strategy choice."""
    from us_dot_flights_lakehouse_spark.operators.joins import advised_join

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    advice = {"strategy": "shuffle", "recommended_partitions": 7}
    df = advised_join(orders, cust, ["o_custkey"], ["c_custkey"], advice)
    plan = _plan(df, "simple")
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    # values identical to a plain join regardless of strategy
    plain = orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
    assert df.count() == plain.count()


def test_advised_shuffle_partitions_drives_exchange_count(spark):
    """The COUNT half of the advice: under advised_shuffle_partitions
    the shuffled join's exchanges carry the advisor's partition count;
    outside the block the session conf is restored. (Per-input
    .repartition(N) does NOT survive under a shuffled join —
    EnsureRequirements re-plans it at spark.sql.shuffle.partitions, so
    the conf scope is the real seam; see advised_join docstring.)"""
    from us_dot_flights_lakehouse_spark.operators.joins import (
        advised_join,
        advised_shuffle_partitions,
    )

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    advice = {"strategy": "shuffle", "recommended_partitions": 7}
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with advised_shuffle_partitions(spark, advice):
        df = advised_join(orders, cust, ["o_custkey"], ["c_custkey"], advice)
        plan = _plan(df, "simple")
        assert plan.count(", 7)") == 2  # both join exchanges at advised N
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_advised_join_rejects_unknown_strategy(spark):
    from us_dot_flights_lakehouse_spark.operators.joins import advised_join

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    with pytest.raises(ValueError, match="unknown advised strategy"):
        advised_join(orders, cust, ["o_custkey"], ["c_custkey"],
                     {"strategy": "sort", "recommended_partitions": 1})


def test_skew_advised_join_salts_a_planted_mega_key(spark):
    """skew_advised_join with a 'salt' verdict must spread a planted
    mega-key across salts (the join exchanges on (key, salt), not key
    alone) and return values identical to the plain join; a 'none'
    verdict must join plainly."""
    from pyspark.sql import functions as F

    from us_dot_flights_lakehouse_spark.operators.joins import skew_advised_join

    # mega-key: 5000 rows on key 7, 100 rows spread over keys 0..99
    fact = spark.range(5000).select(F.lit(7).alias("k"), F.col("id").alias("v")).unionAll(
        spark.range(100).select(F.col("id").alias("k"), (F.col("id") + 10_000).alias("v"))
    )
    dim = spark.range(100).select(F.col("id").alias("dk"), F.concat(F.lit("n"), F.col("id")).alias("name"))
    advice = {"mitigation": "salt", "salts": 8}
    salted = skew_advised_join(fact, dim, "k", "dk", advice)
    plain = fact.join(dim, fact["k"] == dim["dk"])
    assert "__salt" in _plan(salted, "simple") or "pmod" in _plan(salted, "simple")
    assert sorted(tuple(r) for r in salted.collect()) == sorted(
        tuple(r) for r in plain.collect()
    )
    none = skew_advised_join(fact, dim, "k", "dk", {"mitigation": "none", "salts": 1})
    assert sorted(tuple(r) for r in none.collect()) == sorted(
        tuple(r) for r in plain.collect()
    )
    with pytest.raises(ValueError, match="unknown skew mitigation"):
        skew_advised_join(fact, dim, "k", "dk", {"mitigation": "aqe", "salts": 1})


def test_advised_mart_layout_exchange_sits_above_final_agg(spark):
    """a42's advised exchange must be the TOP operator (the X2 pre-write
    repartition at the advisor's count), sitting ABOVE a partial+final
    aggregate — an exchange below the aggregate would ship raw rows
    unaggregated."""
    from us_dot_flights_lakehouse_spark.queries.sketch_q import a42_advised_mart_layout

    df = a42_advised_mart_layout(spark, SF)
    n = df.select("advised_partitions").first()["advised_partitions"]
    plan = _plan(df, "simple")
    assert f", {n}), REPARTITION_BY_NUM" in plan
    assert "partial_count" in plan or plan.count("HashAggregate") >= 2
    # the advised exchange is the last exchange (topmost line mentioning it
    # precedes the aggregate lines in the tree dump)
    lines = plan.splitlines()
    top_exch = next(i for i, l in enumerate(lines) if "REPARTITION_BY_NUM" in l)
    final_agg = next(i for i, l in enumerate(lines) if "HashAggregate" in l)
    assert top_exch < final_agg


def test_salted_join_rejects_right_preserving_join_types(spark):
    """salted_join replicates the right side once per salt, so join
    types that keep unmatched right rows would surface them n_salts
    times — the operator must refuse instead of silently duplicating."""
    from us_dot_flights_lakehouse_spark.operators.joins import salted_join

    fact = spark.range(10).selectExpr("id as k", "id as v")
    dim = spark.range(20).selectExpr("id as dk", "id as name")
    with pytest.raises(ValueError, match="unmatched right-side rows"):
        salted_join(fact, dim, "k", "dk", how="full")
    with pytest.raises(ValueError, match="unmatched right-side rows"):
        salted_join(fact, dim, "k", "dk", how="right")
    # left join: unmatched LEFT rows are not replicated — allowed, and
    # identical to the plain left join
    got = salted_join(fact, dim, "k", "dk", n_salts=4, how="left")
    plain = fact.join(dim, fact["k"] == dim["dk"], "left")
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in plain.collect()
    )


def test_range_layout_is_one_advised_exchange_plus_local_sort(spark):
    """x13's layout must be exactly: REPARTITION_BY_NUM at the advised
    bucket count, then a LOCAL sort (sortWithinPartitions — a global
    sort would add a range-exchange and resort the whole mart)."""
    from us_dot_flights_lakehouse_spark.operators.physical import range_layout

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    laid = range_layout(li, "l_extendedprice", [30000.0, 60000.0, 90000.0])
    plan = _plan(laid, "simple")
    assert plan.count(", 4), REPARTITION_BY_NUM") == 1
    assert "Sort [l_extendedprice" in plan
    assert "false, 0" in plan  # Sort global=false: local per-partition sort
    assert plan.count("Exchange") == 1  # no extra exchange for the sort


def test_range_layout_buckets_are_monotone_and_complete(spark):
    """Every row lands in exactly one bucket, buckets tile the value
    range in order, and boundary values go LEFT (v <= cut -> bucket b)."""
    from pyspark.sql import functions as F

    from us_dot_flights_lakehouse_spark.operators.physical import range_layout

    df = spark.createDataFrame([(float(v),) for v in range(1, 11)], "v double")
    laid = range_layout(df, "v", [3.0, 7.0])
    got = {r["v"]: r["__bucket"] for r in laid.collect()}
    assert got == {1.0: 1, 2.0: 1, 3.0: 1, 4.0: 2, 5.0: 2, 6.0: 2,
                   7.0: 2, 8.0: 3, 9.0: 3, 10.0: 3}
