"""Streaming throughput of the full reference topology.

The reference (`Main.java`) publishes no benchmark numbers (BASELINE.md),
so this measures OUR side of "matches-or-beats the reference's
single-node throughput": events/second through the complete pipeline --
stateful emit-per-event join + three keyed upsert sinks -- on local[*],
driven by the synthetic generator's workload shape (1 user : 3
addresses, the reference generator ratio).

Method: generate N_USERS users + 3x addresses with the deterministic
generator, split each into N_CHUNKS JSON files (so the file source
forms several micro-batches), run `ReferencePipeline` with
`JsonlMetricsListener` attached, `processAllAvailable`, and report
end-to-end wall, total events, events/sec, and the per-batch
processedRowsPerSecond of the join query from the listener.

Writes ``STREAM_BENCH.json``.  Usage: ``python bench_stream.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from data_stream_flink_user_address_spark.plans.pipeline import ReferencePipeline
from data_stream_flink_user_address_spark.session import get_spark
from data_stream_flink_user_address_spark.sources.generator import (
    generate_addresses,
    generate_users,
)
from data_stream_flink_user_address_spark.sources.json_decode import (
    ADDRESS_SCHEMA,
    USER_SCHEMA,
)
from data_stream_flink_user_address_spark.streaming.metrics import (
    JsonlMetricsListener,
    read_metrics,
)

from pyspark.sql import functions as F
from pyspark.sql import types as T

N_USERS = 20_000
ADDR_PER_USER = 3
N_CHUNKS = 4
WORK = "/tmp/spark_graft_stream_bench"


def _run(spark, label: str, files_per_trigger: int | None,
         n_users: int = N_USERS) -> dict:
    work = os.path.join(WORK, label)
    shutil.rmtree(work, ignore_errors=True)
    udir, adir = os.path.join(work, "u"), os.path.join(work, "a")
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    metrics_path = os.path.join(work, "metrics.jsonl")
    os.makedirs(udir)
    os.makedirs(adir)

    # deterministic workload; seq interleaves users before their addresses
    users = generate_users(spark, n_users).withColumn(
        "seq", F.monotonically_increasing_id() * 4
    )
    addresses = generate_addresses(spark, n_users, ADDR_PER_USER).withColumn(
        "seq", F.monotonically_increasing_id() * 4 + 2
    )
    users.coalesce(N_CHUNKS).write.mode("overwrite").json(udir)
    addresses.coalesce(N_CHUNKS).write.mode("overwrite").json(adir)
    n_events = n_users * (1 + ADDR_PER_USER)

    user_seq = T.StructType(USER_SCHEMA.fields + [T.StructField("seq", T.LongType())])
    addr_seq = T.StructType(ADDRESS_SCHEMA.fields + [T.StructField("seq", T.LongType())])
    u_reader = spark.readStream.schema(user_seq)
    a_reader = spark.readStream.schema(addr_seq)
    if files_per_trigger is not None:
        u_reader = u_reader.option("maxFilesPerTrigger", files_per_trigger)
        a_reader = a_reader.option("maxFilesPerTrigger", files_per_trigger)
    u_stream = u_reader.json(udir)
    a_stream = a_reader.json(adir)

    listener = JsonlMetricsListener(metrics_path)
    spark.streams.addListener(listener)
    pipe = ReferencePipeline(spark, u_stream, a_stream, out, ckpt)
    t0 = time.time()
    pipe.start()
    try:
        pipe.process_all()
    finally:
        pipe.stop()
    wall = time.time() - t0
    spark.streams.removeListener(listener)

    time.sleep(2)  # listener bus drain
    recs = [r for r in read_metrics(metrics_path) if r["event"] == "progress"]
    # one streaming query: every progress record is the join query's
    rates = [
        r["processedRowsPerSecond"] for r in recs
        if r["numInputRows"] > 0 and r["processedRowsPerSecond"]
    ]
    state_rows = max(
        (so["numRowsTotal"] for r in recs for so in r.get("stateOperators", [])),
        default=0,
    )
    return {
        "label": label,
        "n_users": n_users,
        "files_per_trigger": files_per_trigger,
        "n_events": n_events,
        "wall_s": round(wall, 2),
        "events_per_sec_end_to_end": round(n_events / wall, 1),
        "peak_join_rows_per_sec": round(max(rates, default=0.0), 1),
        "join_rates": [round(x, 1) for x in sorted(rates)],
        "max_state_rows": state_rows,
    }


def main() -> None:
    spark = get_spark("bench-stream")
    shutil.rmtree(WORK, ignore_errors=True)
    runs = [
        # ONE query, join executed once per batch, foreachBatch
        # multiplexes to the three sinks
        _run(spark, "pipelined_txn_shared", 1),
        _run(spark, "bigbatch_txn_shared", None),
        # state-growth probe: 1e6 events through the headline shared
        # config -- upsert tables at 250k keys must hold throughput
        # within ~2x of the 80k-event figure (VERDICT r10 ask #7)
        _run(spark, "bigbatch_txn_shared_1e6", None, n_users=250_000),
    ]
    artifact = {
        "n_users": N_USERS,
        "addr_per_user": ADDR_PER_USER,
        "runs": runs,
        "note": "full topology: stateful join + 3 commit-log upsert sinks. "
                "ONE streaming query whose foreachBatch multiplexes the "
                "joined micro-batch to all three upserts (join executed "
                "once, single copy of join state). The deleted layouts "
                "(one query per sink; parquet-directory sinks) have their "
                "last numbers in this file's git history. local[*]",
    }
    with open("STREAM_BENCH.json", "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps(artifact))


if __name__ == "__main__":
    main()
