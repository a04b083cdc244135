"""The reference's complete batch ETL job, re-expressed Spark-first —
entry point 1 of SURVEY.md §3 (``spark_processor.main()``,
``spark_processor.py:231-270``) as a library plan.

Differences from the reference, on purpose:
- the 10 chained ``withColumn``s (``spark_processor.py:89-132``)
  become TWO ``select``-equivalent projections (``withColumns``) so
  the logical plan is born collapsed instead of relying on
  CollapseProject;
- timestamps are TimestampType at rest (parse once at ingest), not
  re-parsed four times per row (``spark_processor.py:109-118``);
- the analyze stage still caches once and fans out many aggregates
  (``spark_processor.py:255`` pattern — one cache, many actions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.banding import aqi_band, temp_category
from ..functions.scoring import pollution_score
from ..functions.timeparts import calendar_parts
from ..operators.aggregates import (
    freq_distribution,
    global_means,
    grouped_stats,
    multikey_summary,
    time_bucketed,
)
from ..operators.cleaning import drop_null_rows, exact_dedup
from ..sources.writers import write_partitioned_parquet, write_single_csv

#: reference display projection (spark_processor.py:153)
SAMPLE_COLUMNS = ("location", "temp_c", "humidity", "pm2_5", "air_quality_index", "pollution_score")


def clean_and_transform(df: DataFrame) -> DataFrame:
    """``clean_and_transform_data`` (spark_processor.py:77-139):
    dedup -> not-null filters -> derive band/category/date/calendar/
    score, as two collapsed projections."""
    cleaned = drop_null_rows(exact_dedup(df), ["location", "temp_c", "timestamp"])
    return cleaned.withColumns(
        {
            "air_quality_index": aqi_band("pm2_5"),
            "temperature_category": temp_category("temp_c"),
            "processing_date": F.current_date(),
            **calendar_parts(F.col("timestamp")),
            "pollution_score": pollution_score(),
        }
    )


def analyze(df: DataFrame) -> dict[str, DataFrame]:
    """``analyze_data`` (spark_processor.py:141-194): the five
    analysis queries over the cached transformed table."""
    return {
        "sample": df.select(*SAMPLE_COLUMNS),
        "location_stats": grouped_stats(df, "location", "temp_c"),
        "aqi_distribution": freq_distribution(df, "air_quality_index"),
        "pollutant_means": global_means(
            df, ["pm2_5", "pm10", "no2", "o3", "pollution_score"]
        ),
        "hourly": time_bucketed(df, "timestamp", ["temp_c", "pm2_5"], bucket="hour"),
    }


def summary_table(df: DataFrame) -> DataFrame:
    """The persisted summary (spark_processor.py:210-217).
    ``decimal_exact`` so the rounded means are merge-order-stable
    (a float avg landing on a .xx5 boundary flipped once between
    runs under shuffle-order nondeterminism)."""
    return multikey_summary(
        df,
        ["location", "air_quality_index"],
        ["temp_c", "humidity", "pm2_5", "pollution_score"],
        decimal_exact=True,
    )


def save_processed(df: DataFrame, out_dir: str) -> None:
    """``save_processed_data`` (spark_processor.py:196-229): S10
    partitioned parquet for the fact table + S11 single-CSV summary."""
    write_partitioned_parquet(df, f"{out_dir}/processed", ("location", "year", "month"))
    write_single_csv(summary_table(df), f"{out_dir}/summary")


def run_batch_job(df: DataFrame, out_dir: str) -> dict[str, DataFrame]:
    """Full EP1 lifecycle: transform -> cache -> analyze -> save.
    Returns the analysis DataFrames (caller shows/collects)."""
    transformed = clean_and_transform(df)
    transformed.cache()
    try:
        results = analyze(transformed)
        save_processed(transformed, out_dir)
        return results
    finally:
        transformed.unpersist()


def synthesize_air_quality(spark: SparkSession, n: int = 1000) -> DataFrame:
    """Deterministic air-quality fixture hitting every FIXTURES.md §1
    requirement: nulls in each critical field, exact duplicate rows,
    pollutant values exactly ON the F1 (<=) and F2 (<) boundaries,
    zeros (the imputation default), multiple locations x (year, month).
    Pure column arithmetic over ``spark.range`` — no driver-side data.
    """
    cities = F.array(*[F.lit(c) for c in ("London", "Paris", "Delhi", "Lima", "Oslo")])
    boundary_pm = F.array(*[F.lit(v) for v in (12.0, 35.0, 55.0, 150.0, 250.0)])
    boundary_temp = F.array(*[F.lit(v) for v in (0.0, 10.0, 20.0, 30.0)])
    i = F.col("id")
    base = spark.range(n).select(
        i,
        F.element_at(cities, (i % 5 + 1).cast("int")).alias("location"),
        F.lit("region").alias("region"),
        F.lit("country").alias("country"),
        F.lit("2024-01-01 00:00").alias("localtime"),
        # temps sweep -20..44.8; every 11th row sits exactly on an F2 boundary
        F.when(i % 11 == 0, F.element_at(boundary_temp, (i % 4 + 1).cast("int")))
        .otherwise((i % 650) / 10.0 - 20.0)
        .alias("temp_c"),
        (i % 101).cast("int").alias("humidity"),
        F.lit("Clear").alias("condition"),
        # event time spread over days/hours; epoch base 2024-01-01
        F.timestamp_seconds(F.lit(1704067200) + (i % 1000) * 3600 + i % 60).alias(
            "timestamp"
        ),
        F.when(i % 13 == 0, 0.0).otherwise((i % 400) / 1.7).alias("co"),
        ((i % 300) / 2.3).alias("no2"),
        ((i % 200) / 1.9).alias("o3"),
        ((i % 100) / 3.1).alias("so2"),
        # every 7th row exactly on an F1 boundary; every 13th is 0
        F.when(i % 7 == 0, F.element_at(boundary_pm, (i % 5 + 1).cast("int")))
        .when(i % 13 == 0, 0.0)
        .otherwise((i % 4000) / 10.0)
        .alias("pm2_5"),
        ((i % 500) / 1.3).alias("pm10"),
    )
    # nulls in each critical field + exact duplicates of row 1
    with_nulls = base.withColumns(
        {
            "location": F.when(i % 97 == 0, F.lit(None)).otherwise(F.col("location")),
            "temp_c": F.when(i % 89 == 0, F.lit(None)).otherwise(F.col("temp_c")),
            "timestamp": F.when(i % 83 == 0, F.lit(None)).otherwise(F.col("timestamp")),
        }
    )
    dups = with_nulls.filter(i == 1)
    return with_nulls.unionByName(dups).unionByName(dups).drop("id")
