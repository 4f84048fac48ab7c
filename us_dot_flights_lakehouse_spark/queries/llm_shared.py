"""Shared constants and helpers for the LLM-pipeline query family modules.

Oracles for MinHash/SimHash are generated from the same constants the
Spark operators use (llm/dedup.py), so the two sides cannot drift; the
shared 28-bit md5 hash contract is described in functions/text.py.
See the package ``__init__`` for the cross-engine determinism contract.
"""

from __future__ import annotations
from us_dot_flights_lakehouse_spark.llm import similarity


def _duck_doubles(vals) -> str:
    """DuckDB array<double> literal via per-element string parse: a bare
    numeric literal types as DECIMAL and double-rounds en route to
    DOUBLE (ULP drift vs the Spark-side `1.23D` literals); CAST from the
    shortest-repr string is correctly rounded — bit-identical."""
    return "[" + ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals) + "]"


# shared SQL fragments ------------------------------------------------------

_TOKENS = "regexp_split_to_array(trim(lower(text)), '\\s+')"


#: distinct 3-token shingles of the token array t (1-based list indexing)
_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),"
    " i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"
)


_HASH28 = "('0x' || substr(md5({x}), 1, 7))::BIGINT"


_VEC_NORM = "sqrt(list_sum(list_transform(v, x -> x * x)))"


def _lsh_planes_sql(
    dim: int = 64, n_planes: int = similarity.LSH_PLANES, n_tables: int = 1
) -> str:
    """The deterministic hyperplane family as a DuckDB inline relation:
    one row per plane with its hash table id, bit weight, and double[]
    literal (table t uses family planes [t*n_planes, (t+1)*n_planes) —
    the lsh_bucket(first_plane=...) contract). Python's repr() is
    shortest-round-trip, so DuckDB parses the exact doubles Spark uses."""
    rows = []
    for t in range(n_tables):
        for p in range(n_planes):
            j = t * n_planes + p
            lit = _duck_doubles(similarity._plane(j, dim))
            rows.append(
                f"SELECT {t} AS t, {2 ** p} AS w, {lit} AS plane"
            )
    return "\n  UNION ALL ".join(rows)


INCR_HISTORY_CUTOFF = 250


FH_DIM = 64
