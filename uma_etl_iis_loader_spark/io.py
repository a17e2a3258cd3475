"""Parquet IO helpers + fixture-table access.

At cluster scale every write is either an atomic snapshot overwrite (the
reference's truncate-and-reload sinks, ``iis_etl/logic.py:449``) or a
dynamic-partition overwrite keyed by ``entity_type`` (its delete-by-key +
reinsert pattern, ``iis_etl/logic.py:387-392``) — both avoid read-modify
races and keep the table scannable with partition pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_SPLIT_MIN_BYTES = 512 * 1024

# Natural key per fixture table: splitting hash-partitions on this column
# instead of round-robin — round-robin repartition does a per-partition
# sort for deterministic task retries (measured ~4x slower on lineitem),
# while hash partitioning is retry-deterministic for free AND co-partitions
# the common downstream groupBy/join on the same key.
_SPLIT_KEYS = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def read_fixture(
    spark: SparkSession, sf_dir: str, name: str, split: bool | None = None
) -> DataFrame:
    """Read one driver fixture table (schema comes from parquet footer).

    ``events.ts`` is TIMESTAMP(NANOS) in the parquet footer, which Spark
    reads as a nanos long (``spark.sql.legacy.parquet.nanosAsLong``); we
    convert to a micros timestamp here — same truncation DuckDB applies.

    ``split``: the fixture files are single-row-group parquet, so the scan
    cannot parallelize — every map stage would run on ONE core. When the
    file is big enough to matter, round-robin into a size-scaled number of
    partitions (~256 KB compressed each — task overhead dominates below
    that); ``split=True`` forces full parallelism for CPU-heavy per-row
    work (pandas-UDF kernels) where per-task compute, not scheduling, is
    the cost. On a real multi-row-group/multi-file dataset (the 100 TB
    case) the input already splits and this is skipped.
    """
    # Defensive session confs: the driver harness may pass a session built
    # without our factory — the nanos fallback is required to scan events
    # at all, and UTC keeps collected timestamps oracle-comparable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    parallelism = spark.sparkContext.defaultParallelism
    try:
        size = os.path.getsize(path)
    except OSError:
        size = 0
    if split is None:
        nparts = min(parallelism, size // (256 * 1024))
        split = size >= _SPLIT_MIN_BYTES
    else:
        nparts = parallelism
    if split and df.rdd.getNumPartitions() < min(nparts, 8):
        key = _SPLIT_KEYS.get(name)
        if key is not None:
            df = df.repartition(int(nparts), key)
        else:
            df = df.repartition(int(nparts))
    return df


def write_snapshot(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Atomic snapshot overwrite (replaces the reference's TRUNCATE+INSERT)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_partitions(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Dynamic partition overwrite: replaces only the partitions present in
    ``df`` (the reference's DELETE WHERE entity=... + bulk reinsert,
    ``iis_etl/logic.py:387-392``, without touching sibling partitions)."""
    (
        df.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) table: joins and
    aggregations on the bucket key then need NO shuffle — the co-located
    join strategy for repeatedly-joined 100 TB fact tables. (Parquet +
    in-memory catalog; a real deployment uses the metastore the same way.)
    """
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a previous session's table directory survives the in-memory catalog;
    # saveAsTable refuses to reuse the location, so clear it explicitly
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), table.lower())
    shutil.rmtree(loc, ignore_errors=True)

    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact_snapshot(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    key: str | None = None,
) -> int:
    """Rewrite a parquet snapshot into ~target-sized files; returns the
    new file count.

    The operational fix for small-file buildup (streaming sinks, dynamic
    partition overwrites, per-entity appends): many small files cost a
    task per file on every downstream scan and hammer the namenode/list
    API at 100 TB. File count = ceil(current total bytes /
    ``target_file_bytes``), floor 1. With ``key`` the rewrite
    hash-partitions on that column (retry-deterministic, and co-partitions
    the dominant downstream join/groupBy — same rationale as the fixture
    splitter); without it, ``coalesce`` merges files WITHOUT a shuffle.

    Swap contract: the rewrite lands fully in a temp directory, then two
    directory renames swap it in (old data is never deleted until the new
    data is at the table location). A reader can never observe a PARTIAL
    table; it can hit a path-not-found in the instant between the two
    renames (retry-once semantics, same as snapshot overwrite readers), and
    a crash in that instant leaves the complete new data at
    ``<path>__compacting`` plus the complete old data at ``<path>__old`` —
    recoverable, nothing lost. True reader-atomicity needs a catalog /
    table-format pointer (Delta/Iceberg), not bare directories.
    """
    import math
    import shutil

    total = sum(
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    df = df.repartition(n_files, key) if key else df.coalesce(n_files)
    tmp = f"{path}__compacting"
    df.write.mode("overwrite").parquet(tmp)
    old = f"{path}__old"
    shutil.rmtree(old, ignore_errors=True)
    os.replace(path, old)  # old snapshot intact until the new one is live
    os.replace(tmp, path)
    shutil.rmtree(old)
    return sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
