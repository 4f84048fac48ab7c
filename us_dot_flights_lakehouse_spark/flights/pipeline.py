"""Medallion orchestration: bronze ingest → silver transform → gold build
(reference entry points download_and_ingest.py / flights_silver_transform.py
/ build_all_dimensions.py + build_fact_flights.py + build_all_aggregates.py,
SURVEY.md §3).

Differences from the reference, by design (scale):
- Partitioned parquet writes with dynamic partition overwrite instead of
  table-wide overwrite — an incremental month only rewrites its own
  partitions.
- The fact write applies the reference's file-sizing heuristic
  (~100K rows/partition, floor 200) via write_partitioned.
- Bronze gate is warn-only, silver gate fail-closed — exactly the
  reference's posture (§5).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from us_dot_flights_lakehouse_spark.flights.marts import (
    daily_airline_performance,
    daily_airport_performance,
    route_performance,
)
from us_dot_flights_lakehouse_spark.flights.silver import (
    silver_quality_suite,
    silver_transform,
)
from us_dot_flights_lakehouse_spark.flights.star import (
    build_dim_airline,
    build_dim_airport,
    build_dim_date,
    build_dim_route,
    build_dim_time,
    build_fact_flights,
)
from us_dot_flights_lakehouse_spark.operators.physical import cached
from us_dot_flights_lakehouse_spark.quality.checks import (
    DataDocsCollector,
    QualityGateError,
    QualitySuite,
)
from us_dot_flights_lakehouse_spark.sources.readers import with_lineage
from us_dot_flights_lakehouse_spark.sources.writers import write_partitioned


@dataclass
class LakehousePaths:
    root: str

    @property
    def bronze(self) -> str:
        return f"{self.root}/bronze/flights"

    @property
    def silver(self) -> str:
        return f"{self.root}/silver/flights"

    def gold(self, table: str) -> str:
        return f"{self.root}/gold/{table}"


def bronze_quality_suite() -> QualitySuite:
    """Warn-only bronze checks (reference bronze_expectations.py:50-76)."""
    return (
        QualitySuite("bronze_flights")
        .expect_row_count_at_least(1)
        .expect_column_exists("FL_DATE")
        .expect_column_exists("OP_UNIQUE_CARRIER")
        .expect_null_rate_at_most("OP_UNIQUE_CARRIER", 0.01)
        .expect_values_between("DISTANCE", 0, 20000)
    )


def run_bronze(
    spark: SparkSession,
    raw: DataFrame,
    paths: LakehousePaths,
    airport_lookup: DataFrame | None = None,
    carrier_lookup: DataFrame | None = None,
) -> DataFrame:
    """Bronze: lookup enrichment (two aliased joins of ONE airport lookup +
    carrier lookup, all broadcast — reference download_and_ingest.py:134-155)
    + lineage columns + partitioned write."""
    df = raw
    if airport_lookup is not None:
        o = airport_lookup.alias("o")
        d = airport_lookup.alias("d")
        df = (
            df.join(
                F.broadcast(o),
                df.ORIGIN_AIRPORT_ID.cast("string") == F.col("o.Code"),
                "left",
            )
            .withColumnRenamed("Description", "ORIGIN_AIRPORT_NAME")
            .drop("Code")
            .join(
                F.broadcast(d),
                df.DEST_AIRPORT_ID.cast("string") == F.col("d.Code"),
                "left",
            )
            .withColumnRenamed("Description", "DEST_AIRPORT_NAME")
            .drop("Code")
        )
    if carrier_lookup is not None:
        df = (
            df.join(
                F.broadcast(carrier_lookup),
                df.OP_UNIQUE_CARRIER == carrier_lookup.Code,
                "left",
            )
            .withColumnRenamed("Description", "CARRIER_NAME")
            .drop("Code")
        )
    df = with_lineage(df, partition_date_col="FL_DATE")
    bronze_quality_suite().validate(df, fail_closed=False)
    write_partitioned(df, paths.bronze, partition_by=["partition_date"], dynamic=True)
    return spark.read.parquet(paths.bronze)


def run_silver(spark: SparkSession, paths: LakehousePaths) -> DataFrame:
    bronze = spark.read.parquet(paths.bronze)
    silver = silver_transform(bronze)
    silver_quality_suite().validate(silver, fail_closed=True)
    write_partitioned(silver, paths.silver, partition_by=["AIRLINE_CODE"], dynamic=True)
    return spark.read.parquet(paths.silver)


#: per-dim primary key for the gold uniqueness gates
_DIM_PKS = {
    "dim_date": "DATE_KEY",
    "dim_time": "TIME_KEY",
    "dim_airline": "AIRLINE_CODE",
    "dim_airport": "AIRPORT_CODE",
    "dim_route": "ROUTE_CODE",
}


def gold_quality_suites() -> dict[str, QualitySuite]:
    """Gold gates (reference gold_expectations.py:59-396): every dim's PK
    is non-null and UNIQUE; the fact's FKs stay within null bounds (left
    joins may miss — the reference probes null-FK % at
    build_fact_flights.py:49-54) and flag/measure domains hold."""
    suites = {
        name: QualitySuite(name)
        .expect_column_exists(pk)
        .expect_null_rate_at_most(pk, 0.0)
        .expect_unique(pk)
        for name, pk in _DIM_PKS.items()
    }
    suites["fact_flights"] = (
        QualitySuite("fact_flights")
        .expect_row_count_at_least(1)
        .expect_null_rate_at_most("DATE_KEY", 0.01)
        .expect_null_rate_at_most("ORIGIN_AIRPORT_KEY", 0.01)
        .expect_null_rate_at_most("DEST_AIRPORT_KEY", 0.01)
        .expect_values_between("DISTANCE_MILES", 0, 20000)
        .expect_values_in_set("IS_CANCELLED", (True, False))
    )
    return suites


_DIM_NAMES = ("dim_date", "dim_time", "dim_airline", "dim_airport", "dim_route")
_MART_NAMES = (
    "daily_airline_performance",
    "daily_airport_performance",
    "route_performance",
)


def run_dimensions(spark: SparkSession, paths: LakehousePaths) -> dict[str, DataFrame]:
    """Dims off ONE cached silver read (reference build_all_dimensions.py:46-58),
    each gated fail-closed on PK uniqueness before its write."""
    with cached(spark.read.parquet(paths.silver)) as silver:
        bounds = silver.agg(
            F.min("FLIGHT_DATE").alias("lo"), F.max("FLIGHT_DATE").alias("hi")
        ).collect()[0]
        dims = {
            "dim_date": build_dim_date(spark, str(bounds["lo"]), str(bounds["hi"])),
            "dim_time": build_dim_time(spark),
            "dim_airline": build_dim_airline(silver),
            "dim_airport": build_dim_airport(silver),
            "dim_route": build_dim_route(silver),
        }
        suites = gold_quality_suites()
        for name, dim in dims.items():
            suites[name].validate(dim, fail_closed=True)  # PK uniqueness gates
            write_partitioned(dim, paths.gold(name))
    return {name: spark.read.parquet(paths.gold(name)) for name in _DIM_NAMES}


def run_fact(spark: SparkSession, paths: LakehousePaths) -> DataFrame:
    """Fact build reading the PUBLISHED dims back from gold (like the
    reference's separate fact_flights spark-submit job): broadcast star
    join + warn-only FK-null probe + keyed repartition write."""
    with cached(spark.read.parquet(paths.silver)) as silver:
        fact = build_fact_flights(
            silver,
            dim_date=spark.read.parquet(paths.gold("dim_date")),
            dim_airline=spark.read.parquet(paths.gold("dim_airline")),
            dim_airport=spark.read.parquet(paths.gold("dim_airport")),
            dim_route=spark.read.parquet(paths.gold("dim_route")),
        )
        gold_quality_suites()["fact_flights"].validate(fact, fail_closed=False)
        n_rows = silver.count()  # cached — cheap; sizes the fact write
        write_partitioned(
            fact, paths.gold("fact_flights"), partition_by=["DATE_KEY"],
            repartition_rows=n_rows,
        )
    return spark.read.parquet(paths.gold("fact_flights"))


def run_marts(spark: SparkSession, paths: LakehousePaths) -> dict[str, DataFrame]:
    """Aggregate marts off one cached silver scan (reference
    build_all_aggregates.py)."""
    with cached(spark.read.parquet(paths.silver)) as silver:
        for name, mart in (
            ("daily_airline_performance", daily_airline_performance(silver)),
            ("daily_airport_performance", daily_airport_performance(silver)),
            ("route_performance", route_performance(silver)),
        ):
            write_partitioned(mart, paths.gold(name))
    return {name: spark.read.parquet(paths.gold(name)) for name in _MART_NAMES}


# ---------------------------------------------------------------------------
# Orchestrated runner — the reference DAG as a callable
# ---------------------------------------------------------------------------

@dataclass
class StageResult:
    name: str
    status: str  # "ok" | "failed" | "skipped"
    attempts: int
    seconds: float
    error: str | None = None


#: DAG order (reference airflow/dags/lakehouse_etl_pipeline.py:30-67:
#: bronze_ingest >> silver_transform >> build_dimensions >> fact_flights
#: >> build_aggregates)
PIPELINE_STAGES = (
    "bronze_ingest",
    "silver_transform",
    "build_dimensions",
    "fact_flights",
    "build_aggregates",
)


def run_pipeline(
    spark: SparkSession,
    raw: DataFrame | None,
    root: str,
    airport_lookup: DataFrame | None = None,
    carrier_lookup: DataFrame | None = None,
    start_at: str = "bronze_ingest",
    retries: int = 2,
    data_docs_path: str | None = None,
) -> list[StageResult]:
    """The whole medallion as ONE callable mirroring the reference DAG:
    linear stage sequence, per-stage retries (reference default_args
    ``retries: 2``), fail-stop on exhaustion (downstream stages are
    data-dependent, so they report ``skipped``).

    Gate policy lives IN the stages and matches the reference posture:
    bronze warn-only, silver + dim-PK gates fail-closed, fact FK probe
    warn-only.

    ``start_at`` resumes mid-DAG after a fixed failure — each stage reads
    its inputs from the published tables of the previous one, exactly like
    the reference's independent spark-submit tasks; ``raw`` may be None
    when resuming past bronze.

    ``data_docs_path`` renders every gate result that ran (passing or
    failing, regardless of where the DAG stopped) to a static HTML
    data-docs page — the native counterpart of the reference's GE
    data-docs site."""
    import time

    paths = LakehousePaths(root)
    stages: dict[str, object] = {
        "bronze_ingest": lambda: run_bronze(
            spark, raw, paths, airport_lookup, carrier_lookup
        ),
        "silver_transform": lambda: run_silver(spark, paths),
        "build_dimensions": lambda: run_dimensions(spark, paths),
        "fact_flights": lambda: run_fact(spark, paths),
        "build_aggregates": lambda: run_marts(spark, paths),
    }
    if start_at not in PIPELINE_STAGES:
        raise ValueError(f"unknown stage {start_at!r}; one of {PIPELINE_STAGES}")

    results: list[StageResult] = []
    halted = False
    started = False
    with DataDocsCollector() as docs:
        for name in PIPELINE_STAGES:
            started = started or name == start_at
            if not started or halted:
                results.append(StageResult(name, "skipped", 0, 0.0))
                continue
            t0 = time.perf_counter()
            attempts, err = 0, None
            while attempts <= retries:
                attempts += 1
                try:
                    stages[name]()
                    err = None
                    break
                except QualityGateError as exc:
                    # deterministic data failure — a retry cannot fix it
                    err = f"{type(exc).__name__}: {exc}"
                    break
                except Exception as exc:  # noqa: BLE001 — stage boundary
                    err = f"{type(exc).__name__}: {exc}"
            dt = time.perf_counter() - t0
            if err is None:
                results.append(StageResult(name, "ok", attempts, dt))
            else:
                results.append(StageResult(name, "failed", attempts, dt, err))
                halted = True  # linear DAG: everything downstream is blocked
    if data_docs_path is not None:
        docs.write(data_docs_path)
    return results


def run_all(
    spark: SparkSession,
    raw: DataFrame,
    root: str,
    airport_lookup: DataFrame | None = None,
    carrier_lookup: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Convenience: run the full DAG fail-fast (no retries) and return the
    published gold tables."""
    paths = LakehousePaths(root)
    results = run_pipeline(
        spark, raw, root, airport_lookup, carrier_lookup, retries=0
    )
    failed = [r for r in results if r.status == "failed"]
    if failed:
        raise RuntimeError(f"pipeline stage {failed[0].name} failed: {failed[0].error}")
    return {
        name: spark.read.parquet(paths.gold(name))
        for name in (*_DIM_NAMES, "fact_flights", *_MART_NAMES)
    }
