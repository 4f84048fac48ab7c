"""Output checks, run outside the timed loop.

Catalog ops are compared with their DuckDB oracle using the normalisation
of ``tools/check_oracle.py`` (imported, not copied). A medallion refresh is
checked by recomputing its published ``daily_airline_performance`` with the
``fl_daily_airline_mart`` oracle SQL re-pointed at the refresh's own feed,
and by requiring as many fact rows as silver rows.
"""

from __future__ import annotations

import importlib.util
import os

from datagen import TABLES


def load_check_oracle(root: str):
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(norm, name: str, sf_dir: str, s_cols, s_rows, o_cols, o_rows) -> str | None:
    """The oracle gate of ``tools/check_oracle.py``: no degenerate column,
    equal row counts, equal column names, equal normalised rows. Returns
    the first problem found, or None."""
    dg = norm.degenerate_cols(list(s_cols), s_rows, norm.allowed_null_cols(name, sf_dir))
    if dg:
        return f"degenerate all-NULL/NaN column(s): {dg}"
    if len(s_rows) != len(o_rows):
        return f"rows {len(s_rows)} != {len(o_rows)}"
    if sorted(s_cols) != sorted(o_cols):
        return f"cols {sorted(s_cols)} != {sorted(o_cols)}"
    if norm.norm_rows(list(s_cols), s_rows) != norm.norm_rows(list(o_cols), o_rows):
        return "value-hash mismatch"
    return None


class CatalogOracle:
    """DuckDB over the same generated parquet tables the Spark side reads."""

    def __init__(self, root: str, sf_dir: str, oracles: dict[str, str]):
        import duckdb

        self.norm = load_check_oracle(root)
        self.sf_dir = sf_dir
        self.oracles = oracles
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def check(self, name: str, s_cols, s_rows) -> str | None:
        if name not in self.oracles:
            return "no oracle SQL"
        res = self.con.execute(self.oracles[name])
        o_cols = [d[0] for d in res.description]
        return compare(self.norm, name, self.sf_dir, s_cols, s_rows, o_cols, res.fetchall())

    def close(self) -> None:
        self.con.close()


def check_medallion(spark, norm, paths, feed_path: str) -> str | None:
    import duckdb

    from us_dot_flights_lakehouse_spark.queries import flights as fl

    mart = spark.read.parquet(paths.gold("daily_airline_performance"))
    s_rows = [tuple(r) for r in mart.collect()]
    con = duckdb.connect()
    try:
        res = con.execute(fl.FL_MART_ORACLE.replace(fl.FEED_PATH, feed_path))
        o_cols = [d[0] for d in res.description]
        problem = compare(
            norm, "fl_daily_airline_mart", feed_path, mart.columns, s_rows, o_cols, res.fetchall()
        )
    finally:
        con.close()
    if problem:
        return f"daily_airline_performance: {problem}"
    n_fact = spark.read.parquet(paths.gold("fact_flights")).count()
    n_silver = spark.read.parquet(paths.silver).count()
    if n_fact != n_silver:
        return f"fact rows {n_fact} != silver rows {n_silver}"
    return None
