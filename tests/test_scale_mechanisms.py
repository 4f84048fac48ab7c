"""One mechanism each for bounded driver collects, scoped caches, the
scan-width gate and the file-stat memo stamp.

The structural guard pins each pattern to its single implementation; the
leak tests show that no cache outlives a builder or stage that raises."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "us_dot_flights_lakehouse_spark"

#: pattern -> the (module, function) pairs allowed to contain it
HOMES = {
    "bounded collect": {("operators/physical.py", "bounded_arrow")},
    "cache": {("operators/physical.py", "cached")},
    "unpersist": {("operators/physical.py", "cached")},
    "scan-width probe": {
        ("sources/readers.py", "spread_scan"),
        ("sources/readers.py", "_scan_parts"),
    },
    "stat stamp": {("sources/readers.py", "_stat_stamp")},
}


def _is_limit_plus_one(node) -> bool:
    """``<df>.limit(<expr> + 1)``"""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "limit"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.BinOp)
        and isinstance(node.args[0].op, ast.Add)
        and isinstance(node.args[0].right, ast.Constant)
        and node.args[0].right.value == 1
    )


def _pattern(call: ast.Call) -> str | None:
    f = call.func
    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    if name == "toArrow" and _is_limit_plus_one(f.value):
        return "bounded collect"
    if name in ("cache", "persist"):
        return "cache"
    if name == "unpersist":
        return "unpersist"
    if name in ("scan_partitions", "_scan_parts"):
        return "scan-width probe"
    if name in ("stat", "scandir") and getattr(f.value, "id", None) == "os":
        return "stat stamp"
    return None


def _sites():
    """Every (pattern, module, enclosing function, line) in the package."""
    out = []

    def walk(node, rel, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name if fn is None else fn
            if isinstance(child, ast.Call):
                kind = _pattern(child)
                if kind:
                    out.append((kind, rel, inner, child.lineno))
            walk(child, rel, inner)

    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        walk(ast.parse(path.read_text(), str(path)), rel, None)
    return out


def test_each_pattern_has_one_implementation():
    sites = _sites()
    stray = [
        f"{rel}:{line} {fn}(): {kind}"
        for kind, rel, fn, line in sites
        if (rel, fn) not in HOMES[kind]
    ]
    assert not stray, "use bounded_arrow / cached / spread_scan / _stat_stamp:\n" + "\n".join(stray)
    # every home is still found (a rename must update this guard)
    assert {kind for kind, *_ in sites} == set(HOMES)


def _no_cache(spark) -> bool:
    # sees .cache()/.persist(), not localCheckpoint
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def clean_cache(spark):
    """Start from an empty cache manager: the session is shared, and a
    test's cached input is not this test's leak."""
    spark.catalog.clearCache()
    assert _no_cache(spark)
    return spark


class Boom(RuntimeError):
    pass


def _boom(*_a, **_k):
    raise Boom("injected")


def test_dup_clusters_driver_kernel_raise_releases_cache(clean_cache, monkeypatch):
    from us_dot_flights_lakehouse_spark.llm import curation

    spark = clean_cache
    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "doc_id_a long, doc_id_b long")
    monkeypatch.setattr(curation, "_driver_cc_labels", _boom)
    with pytest.raises(Boom):
        curation.dup_clusters(nodes, pairs)
    assert _no_cache(spark)


def test_dup_clusters_loop_raise_releases_cache(clean_cache, monkeypatch):
    from us_dot_flights_lakehouse_spark.llm import curation

    spark = clean_cache
    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "doc_id_a long, doc_id_b long")
    monkeypatch.setattr(curation, "_min_label_loop", _boom)
    with pytest.raises(Boom):
        curation.dup_clusters(nodes, pairs, driver_cc_max=0)
    assert _no_cache(spark)


def test_kcenter_scan_raise_releases_cache(clean_cache, monkeypatch):
    from us_dot_flights_lakehouse_spark.functions import vectors
    from us_dot_flights_lakehouse_spark.queries.sim_q import _kcenter_scan

    spark = clean_cache
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)], "vec_id long, v array<double>"
    )
    monkeypatch.setattr(vectors, "lit_doubles", _boom)  # first loop round
    with pytest.raises(Boom):
        _kcenter_scan(corpus, 3)
    assert _no_cache(spark)


def test_gold_stage_raise_releases_cache(clean_cache, monkeypatch, tmp_path):
    import datetime as dt

    from us_dot_flights_lakehouse_spark.flights import pipeline

    spark = clean_cache
    paths = pipeline.LakehousePaths(str(tmp_path))
    spark.createDataFrame(
        [(dt.date(2024, 1, 1),)], "FLIGHT_DATE date"
    ).write.parquet(paths.silver)
    monkeypatch.setattr(pipeline, "daily_airline_performance", _boom)
    with pytest.raises(Boom):
        pipeline.run_marts(spark, paths)
    assert _no_cache(spark)
