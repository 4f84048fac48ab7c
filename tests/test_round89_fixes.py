"""Unhappy-path regression tests for the round-8/9 ADVICE fixes
(VERDICT r9 item 2 — the driver's green rows verify only the happy path
the generated data takes; these force the paths the fixes exist for):

1. q_pk_uniqueness_audit's NULL-safe composite-PK encoding
   (queries/quality.py::composite_pk_expr): a NULL component must NOT
   collapse onto a real value, Spark's \\x1eNULL sentinel must equal the
   oracle's chr(30)||'NULL', and the audit must count the duplicate.
2. f_variant_suite's splice gate (queries/funcs_q.py): a splice that
   produces malformed JSON and a props that already carries an "m" key
   must both yield NULL/skip — no ANSI throw — and agree with the
   DuckDB oracle row-for-row.
3. src_xml_roundtrip's fixture validity (queries/corpus_misc_q.py): a markerless
   (torn) directory squatting at the fixture path must be evicted and
   rebuilt, never trusted.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from us_dot_flights_lakehouse_spark.queries import corpus_misc_q, funcs_q
from us_dot_flights_lakehouse_spark.queries.quality import composite_pk_expr


# ---------------------------------------------------------------------------
# 1. NULL-component composite PK encoding
# ---------------------------------------------------------------------------

_PK_ROWS = [
    (None, 3),  # NULL first component …
    (None, 3),  # … duplicated — the audit must see ONE dup key, 2 rows
    (3, None),  # transposed NULLs must NOT collide with (NULL, 3)
    (3, 3),  # fully present
    (None, None),
]


def test_composite_pk_null_encoding_matches_oracle(spark):
    df = spark.createDataFrame(_PK_ROWS, "a int, b int")
    got = sorted(
        r[0] for r in df.select(composite_pk_expr(["a", "b"])).collect()
    )
    con = duckdb.connect()
    want = sorted(
        r[0]
        for r in con.execute(
            """
            SELECT coalesce(CAST(a AS VARCHAR), chr(30) || 'NULL')
                   || chr(31)
                   || coalesce(CAST(b AS VARCHAR), chr(30) || 'NULL')
            FROM (VALUES (NULL, 3), (NULL, 3), (3, NULL), (3, 3),
                         (NULL, NULL)) t(a, b)
            """
        ).fetchall()
    )
    con.close()
    assert got == want
    # the sentinel actually appears — the encoding is doing work
    assert any("\x1eNULL" in k for k in got)


def test_composite_pk_null_rows_do_not_collapse(spark):
    df = spark.createDataFrame(_PK_ROWS, "a int, b int")
    per_key = (
        df.groupBy(composite_pk_expr(["a", "b"]).alias("k"))
        .agg(F.count("*").alias("c"))
        .collect()
    )
    # 4 distinct keys out of 5 rows: only the repeated (NULL, 3) merges
    assert len(per_key) == 4
    dups = [r for r in per_key if r["c"] > 1]
    assert len(dups) == 1 and dups[0]["c"] == 2
    # the raw concat_ws failure mode this guards against: (NULL,3) and
    # (3,NULL) both collapse to "3" when null parts are skipped
    naive = (
        df.select(
            F.concat_ws(
                "\x1f", F.col("a").cast("string"), F.col("b").cast("string")
            ).alias("k")
        )
        .groupBy("k")
        .count()
        .collect()
    )
    assert len(naive) < 4, "naive encoding no longer collapses; test stale?"


# ---------------------------------------------------------------------------
# 2. f_variant_suite splice gate: malformed splice + duplicate "m" key
# ---------------------------------------------------------------------------

_VARIANT_ROWS = [
    # (event_id, props) — event_id % 3 == 0 rows are splice-eligible.
    # The empty-object row is the round-10 catch: an ungated splice made
    # '{"m": 5,}', which DuckDB's json_valid ACCEPTS (trailing-comma
    # leniency -> oracle said 5) while Spark's try_parse_json rejects
    # (NULL) — a silent divergence. The '{"' prefix gate now skips it on
    # both engines.
    (0, "{}"),  # empty object: gated out -> missing key -> NULL
    (3, '{"m": 2, "k": 7}'),  # gate: "m" already present -> no splice
    (6, '{"k": 3}'),  # happy splice -> m = 5
    (9, '{"m": null}'),  # gated; existing m is JSON null -> NULL
    (1, '{"k": 4}'),  # not splice-eligible -> missing key -> NULL
]


@pytest.fixture(scope="module")
def variant_sf_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("variant_sf")
    spark.createDataFrame(
        _VARIANT_ROWS, "event_id bigint, props string"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


def _variant_results(spark, sf_dir):
    rows = funcs_q.f_variant_suite(spark, sf_dir).collect()
    return sorted(
        (r["event_id"], r["k_val"], r["k_str"], r["k_missing"]) for r in rows
    )


def test_variant_gate_unhappy_paths(spark, variant_sf_dir):
    got = dict(
        (eid, missing) for eid, _, _, missing in _variant_results(
            spark, variant_sf_dir
        )
    )
    assert got == {0: None, 3: 2, 6: 5, 9: None, 1: None}


def test_variant_gate_no_ansi_throw(spark, variant_sf_dir):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = _variant_results(spark, variant_sf_dir)
        assert len(rows) == len(_VARIANT_ROWS)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_variant_gate_matches_oracle(spark, variant_sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{variant_sf_dir}/events.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(funcs_q.F_VARIANT_ORACLE).fetchall())
    con.close()
    assert _variant_results(spark, variant_sf_dir) == want


# ---------------------------------------------------------------------------
# 3. src_xml_roundtrip: markerless squatter directory is evicted
# ---------------------------------------------------------------------------


def _xml_fixture_path(sf_dir: str) -> str:
    import tempfile

    from us_dot_flights_lakehouse_spark.fixtures import source_fingerprint

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    fp = source_fingerprint(sf_dir, "documents")
    return f"{tempfile.gettempdir()}/us_dot_xml_{sf_tag}_{fp}"


def test_xml_markerless_squatter_evicted(spark, sf_small):
    out = _xml_fixture_path(sf_small)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    junk = os.path.join(out, "part-junk.xml")
    with open(junk, "w") as f:
        f.write("<docs><doc><doc_id>999999</doc_id></doc></docs>")
    # no _SUCCESS marker: the squatter must be evicted, not trusted
    n = corpus_misc_q.src_xml_roundtrip(spark, sf_small).count()
    assert n == 500  # documents row count at sf0.001, not the junk's 1
    assert os.path.isfile(os.path.join(out, "_SUCCESS"))
    assert not os.path.exists(junk)


def test_xml_committed_fixture_reused(spark, sf_small):
    out = _xml_fixture_path(sf_small)
    # previous test (or a fresh build) left a committed fixture
    corpus_misc_q.src_xml_roundtrip(spark, sf_small).count()
    before = sorted(os.listdir(out))
    mtime = os.path.getmtime(out)
    corpus_misc_q.src_xml_roundtrip(spark, sf_small).count()
    assert sorted(os.listdir(out)) == before
    assert os.path.getmtime(out) == mtime  # untouched — no rebuild


def test_xml_rename_race_waits_for_concurrent_marker(spark, sf_small, monkeypatch):
    """ADVICE r10: when the post-eviction rename keeps failing because a
    concurrent run is recreating the fixture, the bounded retry must
    wait for that run's _SUCCESS marker and fall back to its fixture
    instead of failing loudly mid-build."""
    import threading
    import time

    out = _xml_fixture_path(sf_small)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)  # markerless squatter -> eviction branch engages

    real_rename = os.rename

    def failing_rename(src, dst):
        if dst == out:
            raise OSError(39, "simulated rename race")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)

    def commit_later():
        time.sleep(1.0)
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, "part-concurrent.xml"), "w") as f:
            f.write(
                "<docs><doc><doc_id>1</doc_id><text>t</text>"
                "<lang>en</lang><source>src0</source>"
                "<n_chars>1</n_chars></doc></docs>"
            )
        open(os.path.join(out, "_SUCCESS"), "w").close()

    t = threading.Thread(target=commit_later)
    t.start()
    try:
        n = corpus_misc_q.src_xml_roundtrip(spark, sf_small).count()
    finally:
        t.join()
    assert n == 1  # the concurrent run's fixture was honored, no raise
    # OUR losing tmp export was cleaned up (tmp dirs are pid-suffixed;
    # other pids' leftovers — e.g. the re-raise test's, where the
    # exception legitimately propagates before cleanup — don't count)
    assert not os.path.exists(f"{out}.tmp.{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)  # don't poison later tests


def test_xml_rename_race_reraises_without_marker(spark, sf_small, monkeypatch):
    """If no concurrent run ever commits, the bounded retry must expire
    and re-raise rather than spin forever or silently succeed."""
    import pytest

    out = _xml_fixture_path(sf_small)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)  # markerless squatter

    real_rename = os.rename

    def failing_rename(src, dst):
        if dst == out:
            raise OSError(39, "simulated rename race")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError):
        corpus_misc_q.src_xml_roundtrip(spark, sf_small).count()
    shutil.rmtree(out, ignore_errors=True)
