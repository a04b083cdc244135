"""Sinks (SURVEY.md §2.1).

- S10 partitioned parquet sink (``spark_processor.py:202-205``)
- S11 single-file CSV summary sink (``spark_processor.py:219-224``)
- S12 bounded CSV export at the serving edge (``dashboard.py:361-367``)

Scale notes: the partitioned parquet write is the fact-table path —
dynamic partition dirs, never coalesced.  ``coalesce(1)`` is reserved
for the *summary* table (a few hundred rows) exactly as the reference
does; putting it on a fact table serializes the job onto one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("location", "year", "month"),
    mode: str = "overwrite",
    sort_cols: tuple[str, ...] = (),
) -> None:
    """S10 — reference partitioning scheme ``location, year, month``
    (spark_processor.py:204) so later per-location / per-date predicates
    prune whole directories at 100 TB.

    ``sort_cols`` additionally sorts rows WITHIN each write task
    (``sortWithinPartitions`` — no extra shuffle): parquet then gets
    tight per-row-group min/max stats on those columns, so point/range
    predicates skip row groups inside the files that directory pruning
    can't skip.  Sort by the columns your queries filter on most (e.g.
    the event timestamp)."""
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_single_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S11 — grouped summary to one CSV file with header
    (spark_processor.py:219-224).  Summary tables only."""
    df.coalesce(1).write.mode(mode).option("header", "true").csv(path)


def export_csv_pandas(df: DataFrame, limit: int = 1000) -> str:
    """S12 — serving-edge CSV export: cap rows *before* collecting
    (fixes dashboard.py:59's full-table ``toPandas``)."""
    return df.limit(limit).toPandas().to_csv(index=False)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 32,
    sort_cols: tuple[str, ...] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-clustered (bucketed) parquet table: pays the shuffle ONCE
    at write time so every later equi-join / aggregation on the bucket
    key runs with ZERO exchange on that side — the canonical co-located
    join for fact×fact at 100 TB, where broadcasting is impossible and
    a per-query shuffle of the big side dominates the job.

    ``sort_cols`` additionally sorts within each bucket file, letting
    sort-merge joins skip their sort.  Bucket count is a real tuning
    knob: buckets ≈ (table bytes / target partition bytes), and both
    sides of a co-located join must agree on it (Spark joins m×n
    bucketed sides exchange-free only when the counts divide).

    Requires ``saveAsTable`` (bucket metadata lives in the catalog);
    pass ``path`` to keep the data external at a chosen location.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(name)


def compact_small_files(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    mode: str = "overwrite",
) -> int:
    """Compact a directory of many small parquet files into
    ~``target_file_bytes`` files; returns the output file count.

    The reference's ingestion sink writes ONE file per record
    (consumer.py:66-77, kafka_to_hdfs.py:17-24) — at its own 8.6k
    records/day that is 8.6k files/day, and at 100 TB it is a
    namenode-killing, listing-dominated scan.  The streaming engine
    avoids creating the problem (micro-batch parquet sink), but any
    long-running append sink still accretes per-trigger files, so
    periodic compaction is part of the table's lifecycle.

    Sizing reads the actual on-disk bytes (Hadoop FS via the gateway,
    driver-side metadata only) rather than guessing from row counts,
    then ``repartition(n)`` — a full shuffle on purpose: ``coalesce``
    would skip the shuffle but chains upstream into the scan and can
    unbalance downstream writes.
    """
    df = spark.read.parquet(src_path)
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hadoop_path = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = hadoop_path.getFileSystem(jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(hadoop_path).getLength()
    n = max(1, -(-total_bytes // target_file_bytes))  # ceil
    df.repartition(int(n)).write.mode(mode).parquet(dst_path)
    return len(spark.read.parquet(dst_path).inputFiles())


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    salt: str = "shard:v1",
    mode: str = "overwrite",
) -> None:
    """Training-corpus export: ``n_shards`` shard directories with
    deterministic membership AND deterministic within-shard order —
    the "global shuffle" of training data done without RNG, so a
    re-run (or a different engine) produces byte-identical shards.

    shard = content-hash bucket of the id (stable under
    repartitioning, same rule as ``sampling.hash_bucket``); rows
    within a shard are ordered by the full hash (+ id tie-break) —
    effectively a uniform random permutation, but reproducible.  One
    shuffle (``repartition`` on the shard column) co-locates each
    shard in a single task, ``partitionBy`` writes one directory per
    shard, ``sortWithinPartitions`` fixes the in-file row order.  At
    100 TB pick ``n_shards`` ≈ corpus_bytes / target_shard_bytes.
    """
    from pyspark.sql import functions as F

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import (
        bucket_of,
        reserve_columns,
        salted_hash,
    )

    reserve_columns(df, ("_h", "shard"), "write_training_shards")
    # ONE hash column drives both shard membership and in-shard order —
    # the pairing the round-trip test pins can't drift, and the md5
    # evaluates once per row
    (
        df.withColumn("_h", salted_hash(F.col(id_col), salt))
        .withColumn("shard", bucket_of(F.col("_h"), n_shards))
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "_h", id_col)
        .drop("_h")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """ORC sink — the second columnar format Spark ships natively
    (zlib by default, same predicate-pushdown/row-group-skipping
    contract as parquet).  Interop escape hatch for Hive-era
    consumers; parquet stays the primary lake format."""
    df.write.mode(mode).orc(path)
