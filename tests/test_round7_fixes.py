"""Round-7 regression tests for the a31_ks_drift degeneracy (VERDICT r6
§What's wrong #1) and the two harness blind spots that let it ship
(#2 count()-pruning in check_bare_session, #3 NaN==NaN in check_oracle),
plus the generalized degeneracy audit of constant-bearing queries
(VERDICT r6 next-round item 8).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from us_dot_flights_lakehouse_spark.queries import agg_q, llm_shared  # noqa: E402


# ---------------------------------------------------------------------------
# 1. a31_ks_drift: both samples non-empty, statistic defined and meaningful
# ---------------------------------------------------------------------------


def test_a31_ks_drift_nondegenerate(spark, sf_small):
    row = agg_q.a31_ks_drift(spark, sf_small).collect()[0]
    assert row["n1"] > 0, "pre-cutoff sample empty: KS_CUTOFF_DATE degenerate"
    assert row["n2"] > 0, "post-cutoff sample empty: KS_CUTOFF_DATE degenerate"
    assert row["ks_stat"] is not None
    assert row["ks_stat"] == row["ks_stat"], "ks_stat is NaN"
    assert 0.0 <= row["ks_stat"] <= 1.0


def test_a31_cutoff_splits_orders(duck):
    n1, n2 = duck.execute(
        f"""SELECT CAST(sum(CASE WHEN o_orderdate < DATE '{agg_q.KS_CUTOFF_DATE}'
                   THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(sum(CASE WHEN o_orderdate >= DATE '{agg_q.KS_CUTOFF_DATE}'
                   THEN 1 ELSE 0 END) AS BIGINT) FROM orders"""
    ).fetchone()
    assert n1 > 0 and n2 > 0


# ---------------------------------------------------------------------------
# 2. check_bare_session blind spot: count() prunes projected columns,
#    the noop sink does not. The tool now uses the noop sink; this test
#    pins the WHY by demonstrating the divergence on a crashing column.
# ---------------------------------------------------------------------------


def test_count_prunes_crashing_column_noop_does_not(spark):
    df = spark.range(3).select(
        F.col("id"),
        F.assert_true(F.col("id") < F.lit(0)).alias("boom"),
    )
    # count(): Catalyst prunes 'boom' entirely — the defective column is
    # never evaluated, exactly how the unfixed a31 escaped the tool.
    assert df.count() == 3
    # noop sink: every column is materialized — the defect surfaces.
    with pytest.raises(Exception):
        df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# 3. check_oracle blind spot: an all-NaN/NULL output column must FAIL.
# ---------------------------------------------------------------------------


def test_degenerate_cols_flags_all_nan():
    from check_oracle import degenerate_cols

    nan = float("nan")
    # the unfixed-a31 shape: a 1-row result whose ks_stat is NaN
    assert degenerate_cols(
        ["n1", "ks_stat"], [(0, nan)]
    ) == ["ks_stat"]
    # all-NULL is equally degenerate
    assert degenerate_cols(["a"], [(None,), (None,)]) == ["a"]
    # a single healthy value clears the column
    assert degenerate_cols(["a"], [(None,), (1.5,)]) == []
    # an empty result is a row-count problem, not a degeneracy problem
    assert degenerate_cols(["a"], []) == []


def test_degenerate_cols_nullable_by_design_exemption():
    """r12 cross-SF sweep: g3's peel_round (NULL = k-core survivor) is
    legitimately all-NULL at sf0.001 where every sampled node has degree
    >= K. The exemption must be narrow: declared column + genuine NULLs
    only — NaN and undeclared columns still fail."""
    from check_oracle import NULLABLE_BY_DESIGN, degenerate_cols

    nan = float("nan")
    allow = {"peel"}
    # declared column, genuine NULLs -> exempt
    assert degenerate_cols(["peel"], [(None,), (None,)], allow) == []
    # declared column but NaN cells -> still degenerate (the r6 bug shape)
    assert degenerate_cols(["peel"], [(nan,), (None,)], allow) == ["peel"]
    # undeclared sibling column stays guarded
    assert degenerate_cols(
        ["peel", "x"], [(None, None), (None, None)], allow
    ) == ["x"]
    # registry sanity: declared queries/columns exist in the catalog
    import __spark_entry__ as entry

    qs = entry.queries()
    for q in NULLABLE_BY_DESIGN:
        assert q in qs, f"NULLABLE_BY_DESIGN references unknown query {q}"


def test_nullable_by_design_gated_to_small_sf():
    """The exemption exists for small-SF degeneracy only (review r12):
    at the driver's sf0.01 and above the columns are expected populated,
    so a symmetric all-NULL regression must still fail the guard."""
    from check_oracle import allowed_null_cols

    assert allowed_null_cols("g3_kcore_decompose", "/root/testdata/sf0.001")
    assert allowed_null_cols("g3_kcore_decompose", "/root/testdata/sf0.001/")
    assert not allowed_null_cols("g3_kcore_decompose", "/root/testdata/sf0.01")
    assert not allowed_null_cols("g3_kcore_decompose", "/root/testdata/sf0.1")
    assert not allowed_null_cols("not_a_query", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# 4. Degeneracy audit of constant-bearing queries (the a31 lesson
#    generalized): for every literal cutoff/threshold constant in the
#    catalog, assert BOTH sides of the constant are non-empty at sf0.001
#    — a cutoff outside the data range makes a query measure nothing
#    while still hashing green against an equally-degenerate oracle.
# ---------------------------------------------------------------------------

_RAW_SPLITS = [
    # (constant name, table, predicate on the raw column)
    (
        "KS_CUTOFF_DATE",
        "orders",
        f"o_orderdate < DATE '{agg_q.KS_CUTOFF_DATE}'",
    ),
    (
        "INCR_HISTORY_CUTOFF",
        "documents",
        f"doc_id < {llm_shared.INCR_HISTORY_CUTOFF}",
    ),
]


def test_silence_gap_threshold_splits(duck):
    """SILENCE_GAP_HOURS must flag some gaps and leave most unflagged."""
    from us_dot_flights_lakehouse_spark.queries.streaming import (
        SILENCE_GAP_HOURS,
    )

    above, below = duck.execute(
        f"""WITH g AS (
          SELECT epoch(ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)) / 3600.0
                 AS gap_h
          FROM events)
        SELECT count(*) FILTER (gap_h > {SILENCE_GAP_HOURS}),
               count(*) FILTER (gap_h IS NOT NULL
                                AND gap_h <= {SILENCE_GAP_HOURS}) FROM g"""
    ).fetchone()
    assert above > 0, "silence threshold flags nothing at sf0.001"
    assert below > 0, "silence threshold flags every gap"


@pytest.mark.parametrize("name,table,pred", _RAW_SPLITS)
def test_constant_splits_raw_table(duck, name, table, pred):
    lo, hi = duck.execute(
        f"SELECT sum(CASE WHEN {pred} THEN 1 ELSE 0 END),"
        f" sum(CASE WHEN {pred} THEN 0 ELSE 1 END) FROM {table}"
    ).fetchone()
    assert lo and lo > 0, f"{name}: no rows below the constant"
    assert hi and hi > 0, f"{name}: no rows at/above the constant"


def test_quality_cutoff_splits_scores(spark, sf_small):
    """QUALITY_CUTOFF must land inside the observed quality_score range."""
    from us_dot_flights_lakehouse_spark.llm import textstats
    from us_dot_flights_lakehouse_spark.sources.readers import read_corpus
    from us_dot_flights_lakehouse_spark.queries.tokpack_q import QUALITY_CUTOFF

    docs = read_corpus(spark, sf_small, "documents")
    kept, dropped = (
        textstats.text_stats(docs)
        .agg(
            F.sum(
                (F.col("quality_score") >= QUALITY_CUTOFF).cast("bigint")
            ).alias("kept"),
            F.sum(
                (F.col("quality_score") < QUALITY_CUTOFF).cast("bigint")
            ).alias("dropped"),
        )
        .collect()[0]
    )
    assert kept > 0, "quality gate keeps nothing at sf0.001"
    assert dropped > 0, "quality gate drops nothing: cutoff degenerate"


_THRESHOLD_QUERIES = [
    # (constant name, query, discriminating expectation)
    ("JACCARD_THRESHOLD", "dd_ngram_jaccard"),
    ("CONTAINMENT_THRESHOLD", "dd_containment"),
    ("COSINE_THRESHOLD", "dd_embedding_neardup"),
    ("SIMHASH_MAX_HAMMING", "dd_simhash_pairs"),
]


@pytest.mark.parametrize("cname,qname", _THRESHOLD_QUERIES)
def test_threshold_queries_nonempty_and_selective(spark, sf_small, cname, qname):
    """Each similarity threshold must (a) admit at least one pair at
    sf0.001 — a too-strict constant measures nothing — and (b) not admit
    the all-pairs blowup — a too-loose constant dedups everything."""
    import __spark_entry__ as e

    n_docs = spark.read.parquet(f"{sf_small}/documents.parquet").count()
    rows = e.queries()[qname](spark, sf_small).count()
    assert rows > 0, f"{cname}: {qname} returns no pairs at sf0.001"
    assert rows < n_docs * (n_docs - 1) // 2, (
        f"{cname}: {qname} admitted the all-pairs set"
    )


def test_scene_cut_threshold_separates(spark, sf_small):
    """SCENE_CUT_THRESHOLD must yield both cut and non-cut frame pairs."""
    import __spark_entry__ as e

    df = e.queries()["mm_scene_cuts"](spark, sf_small)
    verdicts = {
        r[0]
        for r in df.select("is_cut").distinct().collect()
    }
    assert verdicts == {True, False}


# ---------------------------------------------------------------------------
# 5. ADVICE r6 item fixes
# ---------------------------------------------------------------------------


def test_kcenter_exactly_k_with_duplicate_heavy_pool(spark):
    """kcenter_oversample must return EXACTLY k ids even when the
    candidate pool stalls (most points are exact duplicates, so extra
    passes add nothing and the pool must pad deterministically)."""
    from us_dot_flights_lakehouse_spark.llm.similarity import kcenter_oversample

    # 3 distinct positions, 30 points: the pool stalls at duplicates of
    # 3 vectors, yet exactly k=8 ids must come back (padding kicks in)
    rows = [(i, [float(i % 3), 0.0]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sel = kcenter_oversample(emb, k=8, oversample=1.0, rounds=2)
    assert len(sel) == 8
    assert len(set(sel)) == 8
    # the 3 genuine positions are all covered before any padding
    assert {i % 3 for i in sel[:3]} == {0, 1, 2}


def test_kcenter_small_dataset_returns_all(spark):
    from us_dot_flights_lakehouse_spark.llm.similarity import kcenter_oversample

    rows = [(i, [float(i), 1.0]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sel = kcenter_oversample(emb, k=10, rounds=1)
    assert sorted(sel) == [0, 1, 2, 3]


def test_source_fingerprint_changes_with_source(tmp_path):
    """Fixture keying: regenerating a source parquet must change the
    fingerprint (new path -> rebuild), same bytes+mtime must not."""
    import os
    import time

    from us_dot_flights_lakehouse_spark.fixtures import source_fingerprint

    p = tmp_path / "orders.parquet"
    p.write_bytes(b"AAAA")
    fp1 = source_fingerprint(str(tmp_path), "orders")
    fp2 = source_fingerprint(str(tmp_path), "orders")
    assert fp1 == fp2
    time.sleep(0.01)
    p.write_bytes(b"BBBBBB")  # size and mtime change
    assert source_fingerprint(str(tmp_path), "orders") != fp1
    os.utime(p, ns=(1, 1))
    fp3 = source_fingerprint(str(tmp_path), "orders")
    os.utime(p, ns=(2, 2))
    assert source_fingerprint(str(tmp_path), "orders") != fp3


def test_bucketed_table_ready_drops_stale_registration(spark, tmp_path):
    """A metastore-registered table whose data directory vanished must
    be dropped and reported not-ready (x9's /tmp-cleared failure mode)."""
    from us_dot_flights_lakehouse_spark.fixtures import bucketed_table_ready
    from us_dot_flights_lakehouse_spark.sources.writers import write_bucketed

    import shutil

    path = str(tmp_path / "t")
    df = spark.range(10).withColumnRenamed("id", "k")
    write_bucketed(df, "r7_fix_probe", ["k"], 2, path=path)
    assert bucketed_table_ready(spark, "r7_fix_probe", path)
    shutil.rmtree(path)
    assert not bucketed_table_ready(spark, "r7_fix_probe", path)
    assert not spark.catalog.tableExists("r7_fix_probe")
