"""Full reference topology as a one-call recipe (Main.java:45-183).

Two JSON streams (user, address) -> stateful emit-per-event join ->
  (a) tumbling 1-min count by state   -> keyed upsert (key=state)
  (b) tumbling 1-min count by country -> keyed upsert (key=country)
  (c) passthrough snapshots           -> keyed upsert (key=userId)

Differences from the reference, by design (SURVEY.md SS7 item 8):
- windows are one (window x dimension x value) grouped agg, not
  parallelism-1 ``windowAll`` -- identical per-window results;
- sinks are keyed upsert tables (MongoSink analogue) behind
  ``foreachBatch``, all on the commit-log backend
  (``TransactionalKeyedUpsertSink``); swap for the Mongo connector;
- counts are driven by an explicit ingest-time column, making the
  reference's processing-time behavior reproducible in tests.

Execution
---------
ONE streaming query runs the stateful join; its ``foreachBatch``
multiplexes each joined micro-batch to all three upserts.  Structured
Streaming has no cross-query plan sharing, so a layout with one query
per sink would execute the join -- the expensive stateful operator --
three times per micro-batch and keep three copies of its keyed state.
Sharing the join is the Flink-graph behavior (Main.java wires one
joined stream into all three sinks); the deleted one-query-per-sink
layout's throughput is recorded in ``STREAM_BENCH.json`` (2.2x slower).

The windowed counts are accumulated in the sink tables themselves, one
``(dim, count, window_start, __epoch, __run)`` row per key, instead of
in a checkpointed streaming aggregation.  Replay safety: a micro-batch
retry re-runs ``foreachBatch`` with the same ``epoch_id``; count rows
whose stored ``(__run, __epoch)`` equals this attempt already contain
this batch's contribution and are skipped (exactly-once per key, epoch).

A count table holds one row per state or country, so the batch's
increments and the stored rows are both collected and folded on the
driver, and each table is committed whole in one write and one log
version (``TransactionalKeyedUpsertSink.snapshot`` / ``replace``); only
the userAddress table, keyed by user, is merged inside Spark by
``apply``.  On the ``stream_paced`` benchmark this is 8 Spark jobs per
micro-batch, where a Spark-side merge of every table took 19.
"""

from __future__ import annotations

import os
import uuid
from collections import defaultdict
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.sinks import TransactionalKeyedUpsertSink
from ..streaming.stateful_join import stateful_user_address_join

# (dimension, count table) -- the reference's two windowAll counts
COUNT_TABLES = (("state", "userCountByState"), ("country", "userCountByCountry"))


def _fold_counts(inc, stored, attempt: tuple[int, str]) -> list[tuple]:
    """``(value, count, window_us)`` rows to upsert, from a batch's
    ``(value, window_us, count)`` increments and the table's stored
    ``(value, count, window_us, __epoch, __run)`` rows.  A value stored
    by this very ``attempt`` (a retry) is left out; else a stored count
    is added when its window matches, and the LATEST window wins."""
    totals: dict[tuple, int] = defaultdict(int)
    for value, ws, n in inc:
        totals[value, ws] += n
    touched = {value for value, _ in totals}
    done = {value for value, _, _, *guard in stored if tuple(guard) == attempt}
    for value, n, ws, *guard in stored:
        if value in touched and value not in done:
            totals[value, ws] += n
    latest: dict = {}
    for (value, ws), n in totals.items():
        if value not in done and (value not in latest or ws > latest[value][0]):
            latest[value] = (ws, n)
    return [(value, n, ws) for value, (ws, n) in latest.items()]


class ReferencePipeline:
    """Assemble and run the reference's dataflow on any pair of streams.

    ``users`` / ``addresses`` are streaming DataFrames in USER_SCHEMA /
    ADDRESS_SCHEMA shape (plus optional ``seq``).  ``out_dir`` receives
    three upsert tables: userAddress/, userCountByState/,
    userCountByCountry/ -- the reference's three Mongo collections
    (Main.java:170-179).
    """

    def __init__(
        self,
        spark: SparkSession,
        users: DataFrame,
        addresses: DataFrame,
        out_dir: str,
        checkpoint_dir: str,
        window: str = "1 minute",
        seq_col: str | None = "seq",
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.checkpoint_dir = checkpoint_dir
        self.window = window
        self.joined = stateful_user_address_join(users, addresses, seq_col=seq_col)
        self.queries = []
        self.sinks: dict[str, TransactionalKeyedUpsertSink] = {}
        # resolved from the checkpoint in start(); namespaces the
        # epoch guard (see _run_namespace)
        self._run_id: str = ""

    @staticmethod
    def _run_namespace(ckpt_dir: str) -> str:
        """Run id tied to the CHECKPOINT's identity, not the process.

        The epoch guard compares stored ``__epoch`` to the incoming
        batchId -- but batchIds restart at 0 whenever a checkpoint is
        recreated over an existing out_dir, so raw equality would
        silently DROP the new run's first increments (undercount).
        Namespacing by a marker persisted inside the checkpoint makes
        the guard exact: a driver restart on an intact checkpoint reuses
        the marker (true replays of the last uncommitted batch are still
        skipped), while a deleted/recreated checkpoint mints a fresh id
        so the old table rows read as prior totals and accumulation
        continues.  Local-FS file IO matches this repo's deployment; on
        a cluster put the marker on the same DFS as the checkpoint.
        """
        os.makedirs(ckpt_dir, exist_ok=True)
        marker = os.path.join(ckpt_dir, "__run_id")
        if os.path.exists(marker):
            with open(marker) as f:
                return f.read().strip()
        rid = uuid.uuid4().hex
        with open(marker, "w") as f:
            f.write(rid)
        return rid

    @staticmethod
    def _count_snapshot(dim: str, sink: TransactionalKeyedUpsertSink) -> tuple[int | None, list]:
        """``(head version, stored rows)`` of one count table, the rows as
        ``(value, count, window_us, __epoch, __run)``.  Refuses a table
        without the epoch guard columns."""
        head, cur = sink.snapshot()
        if cur is None:
            return head, []
        missing = [c for c in ("__epoch", "__run") if c not in cur.columns]
        if missing:
            raise ValueError(
                f"count table {sink.path!r} has no {'/'.join(missing)} "
                "column: it predates the epoch-guarded count layout, "
                "which this pipeline no longer converts; start from a "
                "fresh out_dir"
            )
        return head, cur.select(
            dim, "count", F.unix_micros("window_start"), "__epoch", "__run"
        ).collect()

    def _merge_counts(self, batch: DataFrame, epoch_id: int) -> None:
        """Fold one joined micro-batch into both windowed-count tables.

        One aggregation over the exploded addresses, tagged by dimension,
        is collected: ``ingest_time`` is one literal per batch, so it has
        one window x (distinct states + countries) rows.  Both tables
        (one row per value) are snapshotted and checked before either is
        written.  Each is then folded on the driver and committed whole
        by ``replace``: the folded rows plus the stored rows of untouched
        values, which keep their ``(__epoch, __run)``.  A lost commit
        race re-snapshots and re-folds.  Window starts travel as epoch
        microseconds.
        """
        rows = (
            batch.select("ingest_time", F.explode("addresses").alias("a"))
            .select("ingest_time", F.inline(F.array(*(
                F.struct(F.lit(dim).alias("dim"), F.col(f"a.{dim}").alias("value"))
                for dim, _ in COUNT_TABLES
            ))))
            .groupBy(F.window("ingest_time", self.window).alias("win"), "dim", "value")
            .count()
            .select("dim", "value", F.unix_micros("win.start"), "count")
            .collect()
        )
        inc = {dim: [tuple(r[1:]) for r in rows if r[0] == dim] for dim, _ in COUNT_TABLES}
        attempt = (epoch_id, self._run_id)
        snaps = {dim: self._count_snapshot(dim, self.sinks[table]) for dim, table in COUNT_TABLES}

        for dim, table in COUNT_TABLES:
            sink = self.sinks[table]
            for _ in range(sink.max_commit_retries):
                head, stored = snaps[dim]
                folded = _fold_counts(inc[dim], stored, attempt)
                if not folded:
                    break
                values = {value for value, _, _ in folded}
                table_rows = [(value, n, ws, *attempt) for value, n, ws in folded]
                table_rows += [tuple(r) for r in stored if r[0] not in values]
                whole = batch.sparkSession.createDataFrame(
                    table_rows,
                    f"{dim} string, count bigint, ws bigint, __epoch int, __run string",
                ).select(
                    dim, "count", F.timestamp_micros("ws").alias("window_start"), "__epoch", "__run"
                )
                if sink.replace(whole, head):
                    break
                # lost the race: fold again on top of the winner's table
                snaps[dim] = self._count_snapshot(dim, sink)
            else:
                raise RuntimeError(
                    f"count table {sink.path!r}: commit contention exceeded "
                    f"{sink.max_commit_retries} retries"
                )

    def _shared_foreach_batch(self):
        ua_sink = self.sinks["userAddress"]

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            # ingest_time is a CONCRETE literal stamped once per batch,
            # not current_timestamp(): a cache-evicted partition would
            # recompute current_timestamp() at a later wall time and
            # could land rows of one batch in two different windows
            stamp = datetime.now(timezone.utc).replace(tzinfo=None)
            # one materialization of the joined batch feeds the
            # userAddress upsert and the count pass; without the persist
            # each action would re-run the batch lineage
            batch = batch_df.withColumn(
                "ingest_time", F.lit(stamp).cast("timestamp")
            ).persist()
            try:
                ua_sink.apply(batch)
                self._merge_counts(batch, epoch_id)
            finally:
                batch.unpersist()

        return fn

    def start(self):
        """Start the shared streaming query."""
        self.sinks["userAddress"] = TransactionalKeyedUpsertSink(
            self.spark, os.path.join(self.out_dir, "userAddress"), key="userId", order_col="seq"
        )
        for dim, table in COUNT_TABLES:
            self.sinks[table] = TransactionalKeyedUpsertSink(
                self.spark, os.path.join(self.out_dir, table), key=dim
            )

        shared_ckpt = os.path.join(self.checkpoint_dir, "shared")
        self._run_id = self._run_namespace(shared_ckpt)
        self.queries.append(
            self.joined.writeStream.outputMode("append")
            .option("checkpointLocation", shared_ckpt)
            .foreachBatch(self._shared_foreach_batch())
            .start()
        )
        return self.queries

    def process_all(self):
        for q in self.queries:
            q.processAllAvailable()

    def stop(self):
        for q in self.queries:
            q.stop()
