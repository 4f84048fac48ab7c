"""Engine-vs-DuckDB oracle comparison at sf0.001 for every registered query
that declares an oracle — a fast local replica of the driver's gate."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMALL
from us_dot_flights_lakehouse_spark import queries as registry
from us_dot_flights_lakehouse_spark.testing import assert_df_equal

# data-dependent oracles (literal-centroid IVF) must train on the sf
# this suite runs at
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_SMALL

QUERIES = registry.queries()
ORACLES = registry.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, sf_small, name):
    sdf = QUERIES[name](spark, sf_small)
    res = duck.execute(ORACLES[name])
    cols = [d[0] for d in res.description]
    assert_df_equal(sdf, res.fetchall(), cols)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_query_without_oracle_runs(spark, sf_small, name):
    df = QUERIES[name](spark, sf_small)
    assert df.count() >= 0
    assert df.columns


def test_priority_names_all_resolve():
    """Every _PRIORITY rotation name must be a real catalog entry. The
    registry's ``if n in merged`` filter SILENTLY drops unknown names —
    round 8 shipped two dangling entries (a38/w23, then-unimplemented)
    with zero errors anywhere, which would have burned driver head-50
    sample slots on nothing (VERDICT r8 item 2). A typo in _PRIORITY
    must fail loudly, here."""
    from us_dot_flights_lakehouse_spark.queries import _PRIORITY

    dangling = set(_PRIORITY) - set(QUERIES)
    assert not dangling, f"_PRIORITY names with no catalog query: {sorted(dangling)}"


def test_name_registered_by_two_modules_raises(monkeypatch):
    """A name that two modules both register must raise, not let the
    later module silently shadow the earlier one."""
    import types

    from us_dot_flights_lakehouse_spark.queries import agg_q

    twin = types.ModuleType("twin_q")
    twin.QUERIES = {"a3_global_summary": agg_q.a3_global_summary}
    twin.ORACLES = {"a3_global_summary": agg_q.ORACLES["a3_global_summary"]}
    monkeypatch.setattr(registry, "_MODULES", registry._MODULES + (twin,))
    with pytest.raises(ValueError, match="a3_global_summary.*agg_q.*twin_q"):
        registry.queries()
    with pytest.raises(ValueError, match="a3_global_summary.*agg_q.*twin_q"):
        registry.oracle_sql()


@pytest.mark.parametrize("module", registry._MODULES, ids=lambda m: m.__name__)
def test_module_owns_exactly_its_entries(module):
    """Each module's QUERIES and ORACLES carry the same names, and every
    builder it registers is defined in it."""
    assert set(module.QUERIES) == set(module.ORACLES)
    foreign = {n for n, fn in module.QUERIES.items() if fn.__module__ != module.__name__}
    assert not foreign, f"{module.__name__} registers builders it does not define: {foreign}"


def test_catalog_head_is_priority():
    """The driver samples the catalog head: it must be _PRIORITY, in
    order, and fit in the sampled prefix."""
    from us_dot_flights_lakehouse_spark.queries import _DRIVER_HEAD, _PRIORITY

    assert len(_PRIORITY) <= _DRIVER_HEAD
    assert list(QUERIES)[: len(_PRIORITY)] == list(_PRIORITY)


def test_no_query_returns_complex_columns(spark, sf_small):
    """The correctness driver canonicalizes results with a pandas
    sort_values, which throws ``TypeError: unhashable type`` on array /
    map / struct cells (this killed tp_token_ids and sim_feature_hash in
    CORRECTNESS_r04). Guard the whole registry: every queries() entry
    must emit only scalar top-level columns — serialize sequences with
    concat_ws / to_json / md5 in the final select instead."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, fn in QUERIES.items():
        schema = fn(spark, sf_small).schema  # plan-only, nothing executes
        for field in schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not offenders, (
        "queries() entries with driver-uncanonicalizable complex columns "
        f"(serialize them to scalars in the final select): {offenders}"
    )
