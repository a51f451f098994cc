"""Full reference topology as a one-call recipe (Main.java:45-183).

Two JSON streams (user, address) -> stateful emit-per-event join ->
  (a) tumbling 1-min count by state   -> keyed upsert (key=state)
  (b) tumbling 1-min count by country -> keyed upsert (key=country)
  (c) passthrough snapshots           -> keyed upsert (key=userId)

Differences from the reference, by design (SURVEY.md SS7 item 8):
- windows are one (window x dimension x value) grouped agg, not
  parallelism-1 ``windowAll`` -- identical per-window results;
- the sink is one keyed upsert table (MongoSink analogue) behind
  ``foreachBatch`` on the commit-log backend
  (``TransactionalKeyedUpsertSink``), whose log also carries the two
  count tables, so the three collections commit together where the
  reference's three upserts have no transaction; swap for the Mongo
  connector;
- counts are driven by an explicit ingest-time column, making the
  reference's processing-time behavior reproducible in tests.

Execution
---------
ONE streaming query runs the stateful join; its ``foreachBatch``
multiplexes each joined micro-batch to all three tables.  Structured
Streaming has no cross-query plan sharing, so a layout with one query
per sink would execute the join -- the expensive stateful operator --
three times per micro-batch and keep three copies of its keyed state.
Sharing the join is the Flink-graph behavior (Main.java wires one
joined stream into all three sinks); the deleted one-query-per-sink
layout's throughput is recorded in ``STREAM_BENCH.json`` (2.2x slower).

The windowed counts are accumulated in the sink's commit log itself,
instead of in a checkpointed streaming aggregation: one ``(value,
count, window_us, __epoch, __run)`` row per state or country, kept in
the commit metadata of userAddress's log entry.  Replay safety: a
micro-batch retry re-runs ``foreachBatch`` with the same ``epoch_id``;
count rows whose stored ``(__run, __epoch)`` equals this attempt already
contain this batch's contribution and are skipped (exactly-once per key,
epoch).

Per micro-batch, ONE tagged aggregation is collected: the count
increments of both dimensions and the set of userAddress buckets the
batch's users hash to.  The buckets go to ``apply``, which then needs
no probe of its own and merges the userAddress table (keyed by user)
inside Spark.  The count tables never touch Spark: ``apply`` hands the
head's count rows to a driver-side fold of the increments, and publishes
the folded rows in the same log entry as userAddress's files.  So each
micro-batch is ONE commit covering all three tables -- a crash before it
leaves all three at the previous batch, and a lost commit race re-folds
onto the winner's rows.  ``sinks["userCountByState"]`` and
``sinks["userCountByCountry"]`` are read-only views that serve those
rows as the tables' DataFrames.  On the ``stream_paced`` benchmark a
micro-batch runs 3 Spark jobs: the collect (which also runs the join)
and userAddress's write.  A Spark-side merge of every table took 19,
and Spark-written count tables 8.

Storage stays bounded: after every ``VACUUM_EVERY_BATCHES``-th batch
(by batch id) the sink is vacuumed with ``VACUUM_RETAIN_SECONDS``
retention, which reclaims superseded log entries and data directories
once they are older than the retention window.
"""

from __future__ import annotations

import os
import uuid
from collections import defaultdict
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.sinks import TransactionalKeyedUpsertSink
from ..streaming.stateful_join import stateful_user_address_join

# (dimension, count table) -- the reference's two windowAll counts
COUNT_TABLES = (("state", "userCountByState"), ("country", "userCountByCountry"))
# tag of userAddress's touched buckets in the batch's one tagged collect
BUCKET_TAG = "__bucket"

# the sink is vacuumed after each batch whose id + 1 is a multiple of
# VACUUM_EVERY_BATCHES, reclaiming what is older than VACUUM_RETAIN_SECONDS
# (read at call time)
VACUUM_EVERY_BATCHES = 100
VACUUM_RETAIN_SECONDS = 3600.0


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


def _count_table(dim: str, rows: list[tuple]) -> pa.Table:
    """``(value, count, window_us, __epoch, __run)`` rows as a count
    table.  Window starts go from epoch microseconds straight to UTC
    timestamps, never through a naive ``datetime`` the driver's local
    zone could shift."""
    value, count, ws, epoch, run = zip(*rows)
    return pa.table({
        dim: pa.array(value, pa.string()),
        "count": pa.array(count, pa.int64()),
        "window_start": pa.array(ws, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "__epoch": pa.array(epoch, pa.int32()),
        "__run": pa.array(run, pa.string()),
    })


class _CountView:
    """Read-only count table: its rows ride in ``source``'s commit
    metadata as ``{table: [[value, count, window_us, __epoch, __run],
    ...]}``; ``read()`` serves them as the table's DataFrame (None before
    the first count)."""

    def __init__(self, source: TransactionalKeyedUpsertSink, dim: str, table: str):
        self.source = source
        self.dim = dim
        self.table = table

    def read(self) -> DataFrame | None:
        rows = (self.source.read_metadata() or {}).get(self.table)
        return self.source.spark.createDataFrame(_count_table(self.dim, rows)) if rows else None


class ReferencePipeline:
    """Assemble and run the reference's dataflow on any pair of streams.

    ``users`` / ``addresses`` are streaming DataFrames in USER_SCHEMA /
    ADDRESS_SCHEMA shape (plus optional ``seq``).  ``out_dir`` receives
    one upsert table, userAddress/, whose commit log also carries the
    userCountByState and userCountByCountry rows; ``sinks`` serves all
    three -- the reference's three Mongo collections (Main.java:170-179).
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
        self.sinks: dict[str, TransactionalKeyedUpsertSink | _CountView] = {}
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

    def _collect_batch(self, batch: DataFrame, bucket: Column) -> tuple[dict[str, list[tuple]], set[int]]:
        """The batch's count increments, ``{dim: [(value, window_us,
        count)]}``, and the set of ``bucket`` values over its rows, from
        one collect.

        One aggregation over the exploded addresses, tagged by
        dimension: ``ingest_time`` is one literal per batch, so it has
        one window x (distinct states + countries + buckets) rows.  The
        explode keeps users with no address (``explode_outer``), so
        every user's bucket is seen; only real addresses are counted.
        """
        tags = [F.struct(F.lit(dim).alias("dim"), F.col(f"a.{dim}").alias("value"))
                for dim, _ in COUNT_TABLES]
        tags.append(F.struct(F.lit(BUCKET_TAG).alias("dim"), bucket.cast("string").alias("value")))
        rows = (
            batch.select("*", F.explode_outer("addresses").alias("a"))
            .select("ingest_time", "a", F.inline(F.array(*tags)))
            .groupBy(F.window("ingest_time", self.window).alias("win"), "dim", "value")
            .agg(F.count("a").alias("count"))
            .select("dim", "value", F.unix_micros("win.start"), "count")
            .collect()
        )
        inc = {dim: [tuple(r[1:]) for r in rows if r[0] == dim and r[3]] for dim, _ in COUNT_TABLES}
        return inc, {int(r[1]) for r in rows if r[0] == BUCKET_TAG}

    def _commit(self, batch: DataFrame, epoch_id: int) -> None:
        """Upsert one joined, stamped micro-batch into userAddress and
        fold its count increments into the same commit.

        The fold runs on the driver, on the head's count rows, each time
        ``apply`` tries to commit: a value this ``(epoch_id, run)``
        already counted is skipped (a replay), the others are folded by
        :func:`_fold_counts` and stamped with this attempt, and the rows
        of untouched values keep their ``(__epoch, __run)``.  Window
        starts travel as epoch microseconds.
        """
        ua_sink = self.sinks["userAddress"]
        inc, touched = self._collect_batch(batch, ua_sink._bucket())
        attempt = (epoch_id, self._run_id)

        def fold(meta: dict | None) -> dict:
            out = {}
            for dim, table in COUNT_TABLES:
                stored = (meta or {}).get(table, [])
                folded = _fold_counts(inc[dim], stored, attempt)
                values = {value for value, _, _ in folded}
                out[table] = [[value, n, ws, *attempt] for value, n, ws in folded]
                out[table] += [r for r in stored if r[0] not in values]
            return out

        ua_sink.apply(batch, touched, fold)

    def _shared_foreach_batch(self):
        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            # ingest_time is a CONCRETE literal stamped once per batch,
            # not current_timestamp(): a cache-evicted partition would
            # recompute current_timestamp() at a later wall time and
            # could land rows of one batch in two different windows
            stamp = datetime.now(timezone.utc).replace(tzinfo=None)
            # one materialization of the joined batch feeds the collect
            # and the userAddress upsert; without the persist each
            # action would re-run the batch lineage
            batch = batch_df.withColumn(
                "ingest_time", F.lit(stamp).cast("timestamp")
            ).persist()
            try:
                self._commit(batch, epoch_id)
            finally:
                batch.unpersist()
            if (epoch_id + 1) % VACUUM_EVERY_BATCHES == 0:
                self.sinks["userAddress"].vacuum(VACUUM_RETAIN_SECONDS)

        return fn

    def _open_sinks(self) -> None:
        """The userAddress sink and the two count views over it.
        Refuses an ``out_dir`` that holds count tables of their own
        (the layout before the counts moved into userAddress's log)."""
        for _, table in COUNT_TABLES:
            legacy = os.path.join(self.out_dir, table)
            if os.path.exists(os.path.join(legacy, "_log")):
                raise ValueError(
                    f"{legacy!r} is a separate count table, a layout this "
                    "pipeline no longer converts: its counts live in "
                    "userAddress's commit log; start from a fresh out_dir"
                )
        ua_sink = TransactionalKeyedUpsertSink(
            self.spark, os.path.join(self.out_dir, "userAddress"), key="userId", order_col="seq"
        )
        self.sinks["userAddress"] = ua_sink
        for dim, table in COUNT_TABLES:
            self.sinks[table] = _CountView(ua_sink, dim, table)

    def start(self):
        """Start the shared streaming query."""
        self._open_sinks()
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
