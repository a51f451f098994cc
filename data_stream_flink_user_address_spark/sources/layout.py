"""Write-side data layout: partitioned/sorted/bucketed parquet and
small-file compaction.

Engine extension beyond the reference surface (the reference's only
sink is Cassandra upserts, ``Main.java:154-165``); at 100 TB the WRITE
layout decides most of the read cost:

- **Partition columns** turn predicates into directory pruning -- a
  scan with ``PartitionFilters`` lists only matching directories and
  reads zero bytes elsewhere.  Partition by low-cardinality columns
  queries filter on (date, category); NEVER by high-cardinality keys
  (a per-user directory tree is millions of tiny files).
- **Sort within partitions** tightens parquet row-group min/max stats,
  so selective range predicates skip whole row groups at scan time --
  the poor man's Z-order, and the right default for one dominant range
  column (timestamps).
- **Bucketing** pre-shuffles a table ONCE at write time; two tables
  bucketed the same way join with no exchange at all -- the repeated
  join key's shuffle is paid once per ingest instead of once per query.
- **Compaction** bounds file count: streaming sinks and partitioned
  writes strand small files; a periodic rewrite to ~target-sized files
  keeps task scheduling and footer-reading overhead linear in data, not
  in file count.
"""

from __future__ import annotations

from collections.abc import Sequence

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    sort_by: Sequence[str] | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet write, optionally sorted within partitions.

    ``sort_by`` applies ``repartition(partition_by)`` +
    ``sortWithinPartitions`` first, so each output file covers one
    partition value and a contiguous sort range -- maximal row-group
    stat tightness for range predicates on the sort column(s).

    NOT thread-safe: the write pins the session-global
    ``spark.sql.parquet.outputTimestampType`` conf for its duration
    (Spark has no per-write option for it) and restores it after.  A
    concurrent writer on the SAME SparkSession in another thread can
    observe the pinned value or the mid-restore state.  Serialize calls
    per session, or give concurrent writers their own sessions
    (``spark.newSession()`` isolates runtime conf).
    """
    out = df
    if sort_by:
        out = out.repartition(*[F.col(c) for c in partition_by]).sortWithinPartitions(
            *[F.col(c) for c in list(partition_by) + list(sort_by)]
        )
    spark = df.sparkSession
    # Spark's default parquet timestamp encoding is legacy INT96, which
    # carries NO min/max statistics -- sorting by a timestamp would then
    # buy zero row-group skipping.  Pin TIMESTAMP_MICROS for the write
    # (restored after), so the stats the sort exists to tighten are
    # actually written.
    prev_ts_type = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        writer = out.write.mode(mode).partitionBy(*partition_by)
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        writer.parquet(path)
    finally:
        if prev_ts_type is not None:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev_ts_type)
        else:
            spark.conf.unset("spark.sql.parquet.outputTimestampType")


# Target bytes per bucket file when write_bucketed sizes its files per
# bucket from the optimizer's estimate; read at call time.
TARGET_FILE_BYTES = 256 << 20


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_by: str,
    n_buckets: int,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Bucketed, bucket-sorted external table.

    Two tables written with the same ``(bucket_by, n_buckets)`` join on
    that key with ZERO exchange: the write pays the shuffle once.
    Requires ``saveAsTable`` (bucket metadata lives in the catalog);
    ``path`` keeps the data external.

    The frame is hash-repartitioned on the bucket key to ``k *
    n_buckets`` tasks first: repartition and ``bucketBy`` share Spark's
    murmur3 ``HashPartitioning``, and any multiple of ``n_buckets``
    refines it (``hash pmod n_buckets == (hash pmod k*n_buckets) pmod
    n_buckets``), so every task STILL holds rows of exactly one bucket
    and writes exactly one file -- without the repartition, every
    upstream task writes up to ``n_buckets`` files (32 tasks x 8
    buckets = 256 files at the r18 gate-store measurement), paying
    file-open overhead at write time and footer overhead on every
    later read.

    ``k`` (files per bucket) guards the write's PARALLELISM (r19): a
    bare ``repartition(n_buckets)`` funnels a 100 TB store build
    through ``n_buckets`` writer tasks.  ``k`` derives from the
    optimizer's size estimate -- ``ceil(estimated_bytes / (n_buckets *
    TARGET_FILE_BYTES))``, clamped so total tasks never exceed
    ``max(n_buckets, spark.sql.shuffle.partitions)`` (estimates after
    joins/filters can be wildly high, and the cap keeps a bad estimate
    from stranding thousands of tiny files).  Small frames -- every
    store this repo's gates build at bench scale -- keep ``k=1``: one
    file per bucket, the r18 layout, unchanged.  The estimate goes
    through a private JVM handle; where that is unavailable (a Spark
    Connect frame, a changed internal API) ``k`` falls back to 1.

    ``sortBy(bucket_by)`` sorts rows within each FILE: with ``k = 1``
    each bucket is one sorted file; with ``k > 1`` a bucket spans ``k``
    separately sorted files, so no order holds across the bucket.
    """
    # catalyst's size estimate: free (no job), pessimistic after wide
    # transforms -- which only pushes k toward the cap
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except (AttributeError, Py4JError):
        est = 0  # -> k = 1
    want = -(-est // (n_buckets * TARGET_FILE_BYTES))  # ceil
    shuffle_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    k_cap = max(1, -(-max(n_buckets, shuffle_parts) // n_buckets))
    k = max(1, min(want, k_cap))
    (
        df.repartition(k * n_buckets, F.col(bucket_by))
        .write.mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, bucket_by)
        .sortBy(bucket_by)
        .format("parquet")
        .saveAsTable(table_name)
    )


def compact(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    target_file_mb: int = 128,
    partition_by: Sequence[str] | None = None,
) -> int:
    """Rewrite ``src_path`` parquet into ~``target_file_mb`` files at
    ``dest_path``; returns the repartition width (== output file count
    for an un-partitioned rewrite; with ``partition_by`` the writer
    emits up to one file per (task, partition-value) pair, so the
    actual file count can exceed it).

    Sizing uses the source's on-disk bytes (cheap driver-side listing
    via the Hadoop FS API -- no data read).  Writing to a NEW path is
    deliberate: at scale the atomic swap belongs to the table format /
    catalog layer, not a blind in-place overwrite that races readers.
    """
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hconf = jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = p.getFileSystem(hconf)
    total_bytes = fs.getContentSummary(p).getLength()
    target = target_file_mb * 1024 * 1024
    n_files = max(1, (int(total_bytes) + target - 1) // target)

    df = spark.read.parquet(src_path)
    if partition_by:
        (
            df.repartition(n_files, *[F.col(c) for c in partition_by])
            .write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(dest_path)
        )
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(dest_path)
    return n_files
