"""Query registry — the driver-facing catalog of implemented operators.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with (where SQL-expressible) an equivalent ANSI-SQL oracle string for DuckDB
over the same parquet tables. ``__spark_entry__.py`` exposes this registry.

Each module in ``_MODULES`` owns its entries: its ``QUERIES`` and
``ORACLES`` dicts hold exactly the builders it defines. ``queries()``
orders the catalog as the ``_PRIORITY`` names first (the driver samples
the head), then every other entry in ``_MODULES`` order, each module's in
its dict order. A name that two modules both register raises.

Determinism contract (why results hash-match the oracle bit-for-bit):
- money-like SUMs go through exact DECIMAL accumulation, surfaced as DOUBLE
  (float summation order is nondeterministic under parallel aggregation);
- derived ratios/averages are computed with plain IEEE-754 double ops
  (cast → multiply → divide) with NO round() — both engines then produce
  identical bit patterns; round() is avoided because Spark rounds via
  BigDecimal (decimal-exact) while other engines round in binary floating
  point, which can disagree (classic round(2.675, 2) case);
- integer-valued aggregates are BIGINT on both sides;
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from us_dot_flights_lakehouse_spark.queries import (
    agg_q,
    audit_q,
    corpus_misc_q,
    dedup_q,
    flights,
    funcs_q,
    join_q,
    mm_q,
    quality,
    sim_q,
    sketch_q,
    streaming,
    text_q,
    tokpack_q,
    window_q,
)

#: The modules that own catalog entries, in catalog order below the
#: _PRIORITY head. Each defines ``QUERIES`` (name -> builder) and
#: ``ORACLES`` (name -> SQL string, or a zero-arg callable returning one)
#: holding exactly the entries whose builders it defines.
_MODULES = (
    flights,
    agg_q,
    join_q,
    window_q,
    funcs_q,
    sketch_q,
    audit_q,
    quality,
    streaming,
    dedup_q,
    sim_q,
    text_q,
    tokpack_q,
    mm_q,
    corpus_misc_q,
)

#: Names pulled to the FRONT of the registry, in this order. The driver's
#: correctness harness samples a bounded prefix of the catalog (the head
#: 50), so ordering is signal allocation: queries whose code path changed
#: recently come first, then the entries whose most recent green DRIVER
#: row is oldest (staleness rotation, recomputed by tools/rotation_plan.py;
#: every entry is still oracle-swept locally at three SFs). Per-rotation
#: rationale lives in git history:
#: `git log -L :_PRIORITY:us_dot_flights_lakehouse_spark/queries/__init__.py`.
_PRIORITY = (
    # ---- changed paths (kernel rewrites, advisors, dup_clusters callers) ----
    "g1_bipartite_rank",
    "w8_rolling_anomaly",
    "w12_ewma_smoothing",
    "w14_holt_forecast",
    "dd_cluster_keep_best",
    "dd_semantic_dedup",
    "dd_incremental_clusters",
    "ts_entropy_gates",
    "j19_advised_join",
    "q_join_cardinality_advisor",
    "q_join_skew_advisor",
    "j20_skew_advised_join",
    "a42_advised_mart_layout",
    "q_range_partition_advisor",
    "x13_advised_range_layout",
    "q_groupby_cardinality_advisor",
    "g4_label_propagation",
    "a30_weighted_median",
    "sim_kcenter_diversity",
    "dd_dup_clusters",
    # materialized peel-round oracle CTEs
    "g3_kcore_decompose",
    # NULL dhash rows are singletons
    "mm_phash_dedup",
    # ---- staleness rotation: the stalest driver attestations ----
    "a11_exact_quantiles",  # last driver row r3
    "a12_approx_sketches",  # last driver row r3
    "a18_stat_moments",  # last driver row r3
    "a8_describe_orders",  # last driver row r3
    "dd_embedding_neardup",  # last driver row r3
    "dd_exact_dedup",  # last driver row r3
    "dd_minhash_lsh",  # last driver row r3
    "dd_ngram_jaccard",  # last driver row r3
    "dd_simhash_pairs",  # last driver row r3
    "dd_simhash_values",  # last driver row r3
    "f_json_suite",  # last driver row r3
    "j11_clickstream_interval_join",  # last driver row r3
    "j13_nullsafe_join",  # last driver row r3
    "j8_asof_purchase_attribution",  # last driver row r3
    "mm_byte_features",  # last driver row r3
    "mm_frame_stats",  # last driver row r3
    "mm_image_dims",  # last driver row r3
    "mm_media_manifest",  # last driver row r3
    "mm_mp4_meta",  # last driver row r3
    "mm_pixel_stats",  # last driver row r3
    "mm_wav_meta",  # last driver row r3
    "sim_lsh_topk",  # last driver row r3
    "sim_quantize_int8",  # last driver row r3
    "sim_topk_cosine",  # last driver row r3
    "st_session_window",  # last driver row r3
    "st_sessionize",  # last driver row r3
    "st_windowed_events",  # last driver row r3
    "tp_contamination",  # last driver row r3
)
#: the driver samples only the catalog's first _DRIVER_HEAD entries
_DRIVER_HEAD = 50
# Explicit raises, not bare asserts: asserts vanish under `python -O`.
if len(_PRIORITY) != len(set(_PRIORITY)):
    _dups = sorted({n for n in _PRIORITY if _PRIORITY.count(n) > 1})
    raise ValueError(f"duplicate _PRIORITY entries: {_dups}")
if len(_PRIORITY) > _DRIVER_HEAD:
    raise ValueError(
        f"_PRIORITY has {len(_PRIORITY)} names; the driver samples only "
        f"the first {_DRIVER_HEAD}"
    )


def _merged(attr: str) -> dict:
    """Union of every module's ``attr`` dict, in ``_MODULES`` order; a name
    two modules both register raises instead of one silently shadowing
    the other."""
    out: dict = {}
    owner: dict[str, str] = {}
    for m in _MODULES:
        for name, value in getattr(m, attr).items():
            if name in owner:
                raise ValueError(
                    f"{attr} name {name!r} registered by both "
                    f"{owner[name]} and {m.__name__}"
                )
            owner[name] = m.__name__
            out[name] = value
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged = _merged("QUERIES")
    # a typo'd _PRIORITY name would otherwise silently demote that query
    # out of the driver's head-50 sample — fail loudly instead, same
    # posture as the duplicate guard above
    unknown = [n for n in _PRIORITY if n not in merged]
    if unknown:
        raise ValueError(f"_PRIORITY names not in any QUERIES module: {unknown}")
    out = {n: merged[n] for n in _PRIORITY}
    out.update(merged)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for name, sql in _merged("ORACLES").items():
        if callable(sql):
            # data-dependent oracle (e.g. sim_ivf_topk's literal
            # centroids, re-trained from the parquet): build lazily;
            # if the data isn't reachable, fall back to a rows-only
            # check by omitting the entry.
            try:
                sql = sql()
            except Exception:
                continue
        out[name] = sql
    return out
