"""Exact interpolated percentiles resolved from bounded value histograms.

``percentile()`` / ``median()`` are TypedImperativeAggregates: every task
buffers EVERY raw value into an OpenHashMap and the per-task maps merge
on the final aggregation tasks — a single-threaded merge of the whole
column per group (measured 2.4 s over 583k near-unique doubles at sf0.1
for the global case) and an infeasible whole-column buffer at 100 TB.

But the SELECTION those aggregates perform is a pure function of the
``(group, value) → count`` histogram, whose size is bounded by
distinct-value cardinality, not row count. So (guide §1.1
first-principles, §5 bounded driver actions — the centroid /
``dup_clusters`` pattern):

- ONE full-codegen hash aggregate builds the histogram (partial→final,
  fully parallel — nothing holistic anywhere in the plan);
- a cap-bounded driver action collects it: ``limit(cap + 1)`` bounds the
  transfer BY CONSTRUCTION (≤ ~64 MB at the 4M-row cap), and one extra
  row is enough to detect overflow;
- rank selection + Spark's own interpolation formula
  ``v_lo·(hi−pos) + v_hi·(pos−lo)`` run vectorized on the driver — the
  exact IEEE-double op order ``percentile()`` itself uses (pinned by
  tests/test_quantiles.py's bit-equality property test and by the
  unchanged DuckDB ``quantile_cont`` oracles of every caller:
  a20, a23, the range advisor).

Not a reflex: the path only pays when it REPLACES substantial plan-side
work (a20's percentile + broadcast join + second scan, a23's two
whole-column buffers + join, the range advisor's sort pass + rollup
scan). A/B-rejected for a11/p8/a35, where one mild percentile aggregate
beats collecting a near-row-cardinality histogram (readings in each
query's docstring).

Above the cap — the 100 TB regime where even the distinct-value set is
unbounded — every caller falls back to its previous plan-side shape
(``percentile()`` or distributed sort + rank selection); there the
production answer is a38's mergeable KLL sketch with this exact pass as
its CHECK.

NULL semantics: NULL values are carried through the histogram (so groups
whose values are all NULL still surface, with NULL percentiles — exactly
``percentile()``'s contract) and excluded from rank selection via the
Arrow null mask (``toArrow`` keeps NULL distinct from NaN). Genuine NaN
values make the collector return None (fallback): Spark sorts NaN above
every double inside the aggregate and replicating that ordering
driver-side is not worth the risk for columns that cannot carry NaN.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from us_dot_flights_lakehouse_spark.operators.physical import bounded_arrow

#: Collected-histogram row cap for driver-side rank selection. Below it
#: the histogram collects via Arrow (3 narrow columns — ≤ ~64 MB) and
#: selection is a vectorized driver action; above it callers keep their
#: distributed shape.
DRIVER_HIST_MAX_ROWS = 4_000_000

#: Estimated-input pre-gate for the histogram path (ADVICE r13): over
#: the row cap, ``limit(cap+1)`` bounds only the DRIVER TRANSFER — the
#: full distinct-value aggregate (scan + shuffle) still executes before
#: overflow is detected, and the caller then re-runs its plan-side
#: shape: one wasted full pass in exactly the 100 TB regime the fallback
#: exists for. Inputs whose Catalyst size estimate exceeds this skip the
#: histogram without running anything (the estimate is free — it reads
#: file-index sizes the planner already holds). 8 GiB is ~50× any local
#: SF input (the gate never fires on the bench) and ~4 orders of
#: magnitude under the 100 TB regime (the gate always fires there); the
#: mid-band at worst pays the old behavior's one extra pass.
DRIVER_HIST_MAX_INPUT_BYTES = 8 << 30


def _estimated_plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan ``sizeInBytes`` estimate (driver-side
    metadata only; no job). None when the probe fails — callers treat
    that as 'unknown, proceed' to preserve the pre-gate-less behavior."""
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
    # Long.MaxValue is Catalyst's "unknown" sentinel (defaultSizeInBytes),
    # reported e.g. for driver-created LocalRelations — unknown is not
    # evidence of scale, so treat it as no estimate
    return None if est >= (1 << 63) - 1 else est


def collect_value_histogram(
    df: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
    cap: int | None = None,
):
    """Collect the ``(group..., value...) → count`` histogram of ``df``
    as a ``pyarrow.Table`` with columns ``group_cols + value_cols +
    ['__cnt']``, or None when it exceeds ``cap`` rows or a value column
    carries genuine (non-NULL) NaN — both meaning "keep the plan-side
    shape". ``bounded_arrow`` bounds the driver transfer; the aggregate
    itself is the one full pass over ``df``.
    """
    import numpy as np

    if cap is None:
        cap = DRIVER_HIST_MAX_ROWS
    est = _estimated_plan_bytes(df)
    if est is not None and est > DRIVER_HIST_MAX_INPUT_BYTES:
        return None  # 100 TB regime: skip without running a wasted pass
    hist = df.groupBy(*[F.col(c) for c in group_cols + value_cols]).agg(
        F.count("*").alias("__cnt")
    )
    tbl = bounded_arrow(hist, cap)
    if tbl is None:
        return None
    for c in value_cols:
        col = tbl.column(c)
        if str(col.type) in ("double", "float"):
            vals = col.to_numpy(zero_copy_only=False)
            nulls = np.asarray(col.is_null())
            if np.isnan(vals[~nulls]).any():
                return None
    return tbl


def percentiles_from_counts(values, counts, fracs: list[float]) -> list:
    """Interpolated percentiles of the multiset {values[i] × counts[i]}
    (non-null doubles, any order): sort, cumulative counts, select the
    two straddling ranks per fraction, interpolate with Spark's own
    ``v_lo·(hi−pos) + v_hi·(pos−lo)`` (v_lo when the rank is integral).
    Returns ``[None] * len(fracs)`` for an empty multiset, matching
    ``percentile()`` over an all-NULL group."""
    import numpy as np

    values = np.asarray(values, dtype="float64")
    counts = np.asarray(counts, dtype="int64")
    if values.size == 0 or int(counts.sum()) == 0:
        return [None] * len(fracs)
    order = np.argsort(values)
    v = values[order]
    cum = np.cumsum(counts[order])
    n = int(cum[-1])
    out = []
    for p in fracs:
        pos = p * (n - 1)
        lo = math.floor(pos)
        hi = math.ceil(pos)
        v_lo = float(v[np.searchsorted(cum, lo, side="right")])
        if lo == hi:
            out.append(v_lo)
        else:
            v_hi = float(v[np.searchsorted(cum, hi, side="right")])
            out.append(v_lo * (hi - pos) + v_hi * (pos - lo))
    return out


def histogram_groups(tbl, group_cols: list[str], value_col: str):
    """Iterate a collected histogram by group: yields
    ``(key_tuple, values_nonnull_f64, counts_i64, n_total)`` where
    ``n_total`` counts EVERY row of the group (NULL values included —
    the ``count(*)`` a caller usually also needs) and the value/count
    arrays carry only the non-null entries rank selection may use.
    Group keys preserve the column values as Python objects (NULL group
    keys stay None, as groupBy keeps them). With ``group_cols == []``
    (a global aggregate) a single ``()``-keyed group covers the table.

    Group-key restrictions (ADVICE r13): grouping rides pandas
    ``groupby(..., dropna=False).indices`` — pandas < 1.1 silently
    dropped the NA group even with dropna=False (repo floor: pandas
    ≥ 1.1), and the key normalization below maps BOTH a NULL key and a
    genuine float-NaN key to None, conflating them. Every current
    caller groups on strings (or nothing), where the two cannot
    collide; do not feed float group keys that may carry real NaN."""
    import numpy as np
    import pandas as pd

    vals = tbl.column(value_col).to_numpy(zero_copy_only=False)
    nulls = np.asarray(tbl.column(value_col).is_null())
    cnts = tbl.column("__cnt").to_numpy(zero_copy_only=False)
    if not group_cols:
        if tbl.num_rows:
            nn = ~nulls
            yield ((), vals[nn], cnts[nn], int(cnts.sum()))
        return
    keys = pd.DataFrame(
        {c: tbl.column(c).to_pandas() for c in group_cols}
    )
    grouped = keys.groupby(group_cols, dropna=False, sort=False).indices
    for key, idx in grouped.items():
        if not isinstance(key, tuple):
            key = (key,)
        nn = idx[~nulls[idx]]
        yield (
            tuple(None if k is pd.NA or (isinstance(k, float) and k != k) else k for k in key),
            vals[nn],
            cnts[nn],
            int(cnts[idx].sum()),
        )
