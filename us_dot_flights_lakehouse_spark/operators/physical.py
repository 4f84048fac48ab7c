"""Physical/utility operators (SURVEY.md §2.9 X1-X4).

X2 (keyed pre-write repartition) and X3 (coalesce single-file export) live
in sources/writers.py next to the sinks they serve.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@contextmanager
def cached(df: DataFrame):
    """X1: scoped cache — the reference caches shared inputs and manually
    unpersists after the consumers run (build_fact_flights.py:95-99);
    a context manager makes the release un-forgettable, including when a
    consumer raises. The cache fills on the first action inside the
    scope (no extra materializing job). Builders cache only through it:

        with cached(silver) as s:
            dims = [build_dim_airline(s), build_dim_airport(s)]
    """
    df.cache()
    try:
        yield df
    finally:
        df.unpersist()


def bounded_arrow(df: DataFrame, max_rows: int):
    """Bounded driver collect: ``df`` as a ``pyarrow.Table`` when it has
    at most ``max_rows`` rows, else None ("keep the distributed shape").

    One ``limit(max_rows + 1).toArrow()`` action both checks the cap and
    collects: the limit bounds the driver transfer by construction, and
    the one extra row is enough to detect overflow — no separate
    ``count()`` job. Over the cap the limit stops after a partition
    prefix when ``df`` is a scan, a cache or a checkpoint; above a full
    aggregate it still runs that aggregate, so a caller whose input may
    be huge gates on its own size estimate first
    (``quantiles.collect_value_histogram``). Row caps stay per caller:
    row widths differ, so the byte bound behind a cap does too."""
    tbl = df.limit(max_rows + 1).toArrow()
    return None if tbl.num_rows > max_rows else tbl


def partition_histogram(df: DataFrame) -> list[int]:
    """X4: rows-per-partition diagnostic (reference notebook cell 6 uses
    rdd.glom().map(len) to eyeball balance). Implemented with
    spark_partition_id + groupBy — stays a DataFrame job (no Python
    per-row serialization like glom) so it is usable on big inputs.
    Returns counts indexed by partition id (empty partitions report 0)."""
    n_parts = df.rdd.getNumPartitions()
    counts = {
        r["pid"]: r["count"]
        for r in df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    }
    return [counts.get(i, 0) for i in range(n_parts)]


def ordered_dense_ids(
    df: DataFrame,
    order_cols: list,
    id_name: str = "_rank_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """Dense 0-based ids in a total order WITHOUT a single-partition
    window — the distributed zipWithIndex pattern, DataFrame-native:

    1. range-repartition + sort within partitions on the order columns
       (a distributed sort: each partition holds a contiguous rank range);
    2. count rows per partition (one tiny aggregate, collected — bounded
       by partition count);
    3. Arrow-batched enumeration per partition adds the partition's
       cumulative offset to a running local counter.

    A plain ``row_number() OVER (ORDER BY ...)`` funnels every row
    through ONE task; this keeps parallelism = partition count while
    producing the identical ids (ids are a pure function of the total
    order, so the oracle for any consumer is unchanged). The order
    columns must form a total order for determinism."""
    import pandas as pd

    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    hidden = "_odi_pid"
    # localCheckpoint pins the range boundaries: repartitionByRange SAMPLES
    # per job, so without materialization the count job and the numbering
    # job can see different partition boundaries (observed off-by-one
    # duplicate ids at a boundary). One materialized layout serves both.
    sorted_df = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn(hidden, F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        r["p"]: r["c"]
        for r in sorted_df.groupBy(F.col(hidden).alias("p"))
        .agg(F.count("*").alias("c"))
        .collect()
    }
    offsets = {}
    acc = 0
    for p in range(max(counts) + 1 if counts else 0):
        offsets[p] = acc
        acc += counts.get(p, 0)

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {id_name} long"
    in_cols = [f.name for f in df.schema.fields]

    def number(batches):
        pos = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pos is None:
                pos = offsets[int(pdf[hidden].iloc[0])]
            out = pdf[in_cols].copy()
            out[id_name] = range(pos, pos + len(pdf))
            pos += len(pdf)
            yield out

    return sorted_df.mapInPandas(number, schema=out_schema)


def range_layout(df: DataFrame, col: str, cuts: list[float]) -> DataFrame:
    """Range-clustered physical layout: assign every row to the bucket its
    ``col`` value falls in under the ADVISED cut points (ascending), then
    hash-repartition to one partition per bucket and sort locally — the
    sorted-mart write layout (X7's Z-order sibling for one dimension):
    downstream range predicates prune whole files via parquet min/max,
    and bucket extents are DISJOINT by construction (monotone bucket
    assignment — asserted by x13's oracle-pinned check).

    The cut points come from the caller (q_range_partition_advisor: exact
    percentile cuts, the a38-KLL path at 100 TB), not from
    ``repartitionByRange`` — Spark's own range partitioner SAMPLES the
    input, so its boundaries are nondeterministic run to run; advised
    cuts make the layout reproducible and let the advisor's balance
    table describe exactly what was written. The explicit numPartitions
    pins the exchange against AQE coalescing. Adds ``__bucket`` (1-based)
    for the caller's bookkeeping."""
    from pyspark.sql import functions as F

    bucket = F.lit(1)
    for c in cuts:
        bucket = bucket + (F.col(col) > F.lit(float(c))).cast("int")
    out = df.withColumn("__bucket", bucket)
    return out.repartition(len(cuts) + 1, F.col("__bucket")).sortWithinPartitions(
        col
    )
