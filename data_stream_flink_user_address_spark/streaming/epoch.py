"""The epoch-partition replay contract shared by every streaming gate.

The reference sink is an idempotent keyed upsert (MongoSink.java:44-63),
so a replayed record converges.  Append-style outputs get the same
property by writing each micro-batch under its own ``__epoch=<id>``
partition with DYNAMIC partition overwrite: ``foreachBatch`` re-runs an
epoch whenever its writes land but the checkpoint commit does not
(executor loss, driver restart), and the re-run replaces exactly its own
partition instead of appending duplicates.  Readers see the extra
partition column.

The overwrite mode is set per write, never on the session, so calling a
gate (or a store builder) leaves the caller's
``spark.sql.sources.partitionOverwriteMode`` untouched.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partition(df: DataFrame, path: str, value: int, col: str = "__epoch") -> None:
    """Overwrite the single ``col=<value>`` partition of the parquet
    directory ``path`` with ``df``; every other partition is kept."""
    (
        df.withColumn(col, F.lit(int(value)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(path)
    )


def require_epoch_layout(*paths: str | None) -> None:
    """Fail fast on a flat-``part-*`` output directory: the gates write
    ``__epoch=N/`` partitions, and a directory mixing both layouts
    cannot be read consistently by ``spark.read.parquet``.  Migrate old
    flat files under a synthetic ``__epoch=-1`` partition or point the
    stream at a fresh directory.  ``None`` entries (an optional output
    that is not set) are skipped."""
    for path in paths:
        if path is None or not os.path.isdir(path):
            continue
        entries = os.listdir(path)
        flat_parts = [e for e in entries if e.startswith("part-")]
        if flat_parts and not any(e.startswith("__epoch=") for e in entries):
            raise ValueError(
                f"output path {path!r} holds flat-append part files from a "
                "pre-__epoch sink layout; mixing them with __epoch=N/ "
                "partitions is unreadable. Rewrite them under __epoch=-1/ "
                "(spark.read.parquet(path).withColumn('__epoch', "
                "lit(-1))...partitionBy('__epoch')) or use a new path."
            )


def start_gate_stream(
    stream: DataFrame,
    checkpoint_dir: str,
    epoch_fn: Callable[[DataFrame, int], None],
    *out_paths: str | None,
):
    """Check each ``__epoch``-partitioned output's layout (``None``
    entries are unset optional outputs), then run
    ``epoch_fn(batch_df, epoch_id)`` on every micro-batch of ``stream``.
    Returns the started ``StreamingQuery``."""
    require_epoch_layout(*out_paths)
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda batch_df, epoch_id: epoch_fn(batch_df, int(epoch_id)))
        .start()
    )
