"""Full reference topology as a one-call recipe (Main.java:45-183).

Two JSON streams (user, address) -> stateful emit-per-event join ->
  (a) tumbling 1-min count by state   -> keyed upsert (key=state)
  (b) tumbling 1-min count by country -> keyed upsert (key=country)
  (c) passthrough snapshots           -> keyed upsert (key=userId)

Differences from the reference, by design (SURVEY.md SS7 item 8):
- windows are (window x dimension) grouped aggs, not parallelism-1
  ``windowAll`` -- identical per-window results, fully parallel;
- sinks are keyed upsert tables (MongoSink analogue) behind
  ``foreachBatch`` -- the commit-log transactional backend by default,
  the plain parquet-directory store via ``transactional=False``; swap
  for the Mongo connector in production;
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

The windowed counts are accumulated in the sink tables themselves (per
key: latest window_start, running count, last applied epoch) instead of
in a checkpointed streaming aggregation.  Replay safety: a micro-batch
retry re-runs ``foreachBatch`` with the same ``epoch_id``; count rows
whose stored ``__epoch`` equals the incoming epoch already contain this
batch's contribution and are skipped, so the add-merge stays
exactly-once per (key, epoch) on both sink backends.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..streaming.sinks import KeyedUpsertSink, TransactionalKeyedUpsertSink
from ..streaming.stateful_join import stateful_user_address_join


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
        transactional: bool = True,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.checkpoint_dir = checkpoint_dir
        self.window = window
        # The commit-log backend (cross-bucket crash atomicity,
        # multi-writer safe) is the default; transactional=False selects
        # the simpler parquet-directory store -- same upsert semantics,
        # single-writer durability only
        self.sink_cls = TransactionalKeyedUpsertSink if transactional else KeyedUpsertSink
        self.joined = stateful_user_address_join(users, addresses, seq_col=seq_col)
        self.queries = []
        self.sinks: dict[str, KeyedUpsertSink | TransactionalKeyedUpsertSink] = {}
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

    def _merge_window_counts(self, sink, batch: DataFrame, dim: str, epoch_id: int) -> None:
        """Fold one joined micro-batch into a windowed-count sink table.

        Table row per ``dim`` value: (dim, count, window_start, __epoch).
        The batch's (window x dim) increments are added to the stored
        count when the window matches, or start a fresh count when the
        batch has entered a newer window -- the row always holds the
        LATEST window's running total, what an update-mode windowed
        aggregation + upsert would produce at every trigger.
        Rows whose stored (__run, __epoch) equals (this run, ``epoch_id``)
        were written by a previous attempt of this very batch
        (micro-batch retry); their increments are dropped so replay
        cannot double-count.  The __run namespace keeps a recreated
        checkpoint's restarted batchIds from colliding with a prior
        run's epochs (see _run_namespace).
        """
        inc = (
            batch.withColumn("addr", F.explode("addresses"))
            .groupBy(
                F.window("ingest_time", self.window).alias("win"),
                F.col(f"addr.{dim}").alias(dim),
            )
            .agg(F.count(F.lit(1)).alias("count"))
            .select(dim, "count", F.col("win.start").alias("window_start"))
        )
        cur = sink.read()
        if cur is not None:
            missing = [c for c in ("__epoch", "__run") if c not in cur.columns]
            if missing:
                raise ValueError(
                    f"count table {sink.path!r} has no {'/'.join(missing)} "
                    "column: it predates the epoch-guarded count layout, "
                    "which this pipeline no longer converts; start from a "
                    "fresh out_dir"
                )
            touched = cur.join(inc.select(dim).distinct(), dim, "left_semi")
            this_attempt = (F.col("__epoch") == F.lit(epoch_id)) & (
                F.col("__run") == F.lit(self._run_id)
            )
            already = touched.filter(this_attempt)
            prior = touched.filter(~this_attempt).select(
                dim, "count", "window_start"
            )
            # keys already holding this epoch's contribution are left
            # out of the upsert entirely (sink.apply only rewrites
            # incoming keys, so absence = untouched)
            inc = inc.join(already.select(dim), dim, "left_anti").unionByName(prior)
        totals = inc.groupBy(dim, "window_start").agg(F.sum("count").alias("count"))
        w = Window.partitionBy(dim).orderBy(F.col("window_start").desc())
        final = (
            totals.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                dim, "count", "window_start",
                F.lit(epoch_id).alias("__epoch"),
                F.lit(self._run_id).alias("__run"),
            )
        )
        sink.apply(final)

    def _shared_foreach_batch(self):
        ua_sink = self.sinks["userAddress"]
        st_sink = self.sinks["userCountByState"]
        co_sink = self.sinks["userCountByCountry"]

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            # ingest_time is a CONCRETE literal stamped once per batch,
            # not current_timestamp(): a cache-evicted partition would
            # recompute current_timestamp() at a later wall time and
            # could land rows of one batch in two different windows
            stamp = datetime.now(timezone.utc).replace(tzinfo=None)
            # one materialization of the joined batch feeds all three
            # sinks; without the persist each sink action would re-run
            # the (already computed, but re-planned) batch lineage
            batch = batch_df.withColumn(
                "ingest_time", F.lit(stamp).cast("timestamp")
            ).persist()
            try:
                ua_sink.apply(batch)
                self._merge_window_counts(st_sink, batch, "state", epoch_id)
                self._merge_window_counts(co_sink, batch, "country", epoch_id)
            finally:
                batch.unpersist()

        return fn

    def start(self):
        """Start the shared streaming query."""
        self.sinks["userAddress"] = self.sink_cls(
            self.spark, os.path.join(self.out_dir, "userAddress"), key="userId", order_col="seq"
        )
        for dim, table in (("state", "userCountByState"), ("country", "userCountByCountry")):
            self.sinks[table] = self.sink_cls(
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
