"""Keyed upsert sink semantics (MongoSink.java analogue) + full pipeline."""

import json
import os
import sys
import uuid
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_stream_flink_user_address_spark.schemas import ADDRESS_SCHEMA, USER_SCHEMA
from data_stream_flink_user_address_spark.streaming.sinks import (
    KeyedUpsertSink,
    TransactionalKeyedUpsertSink,
)
from data_stream_flink_user_address_spark.plans.pipeline import (
    COUNT_TABLES,
    ReferencePipeline,
)


def test_upsert_insert_then_overwrite(spark, tmp_path):
    path = str(tmp_path / "kv")
    sink = KeyedUpsertSink(spark, path, key="k", order_col="v")
    sink.apply(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"))
    sink.apply(spark.createDataFrame([("b", 99), ("c", 3)], "k string, v int"))
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 1, "b": 99, "c": 3}


def test_upsert_last_write_wins_within_batch(spark, tmp_path):
    path = str(tmp_path / "kv")
    sink = KeyedUpsertSink(spark, path, key="k", order_col="v")
    sink.apply(spark.createDataFrame([("a", 5), ("a", 9), ("a", 7)], "k string, v int"))
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 9}


def test_upsert_idempotent_replay(spark, tmp_path):
    # micro-batch retry: applying the same batch twice converges
    path = str(tmp_path / "kv")
    sink = KeyedUpsertSink(spark, path, key="k", order_col="v")
    batch = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    sink.apply(batch)
    sink.apply(batch)
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 1, "b": 2}


@pytest.mark.parametrize(
    "sink_cls", [KeyedUpsertSink, TransactionalKeyedUpsertSink], ids=["plain", "txn"]
)
def test_null_key_upserts_to_one_row(spark, tmp_path, sink_cls):
    """A NULL key is upserted like any other (Mongo's
    ``updateOne({k: null}, ..., upsert)``): three applies leave one row
    holding the last value, not three."""
    sink = sink_cls(spark, str(tmp_path / "kv"), key="k", order_col="v")
    for v in (1, 2, 3):
        sink.apply(spark.createDataFrame([(None, v), ("a", v)], "k string, v int"))
    got = sorted((r["k"] or "", r["v"]) for r in sink.read().collect())
    assert got == [("", 3), ("a", 3)]


USER_SEQ = T.StructType(USER_SCHEMA.fields + [T.StructField("seq", T.LongType())])
ADDR_SEQ = T.StructType(ADDRESS_SCHEMA.fields + [T.StructField("seq", T.LongType())])


def test_full_pipeline_end_to_end(spark, tmp_path):
    """10 users x 3 addresses (the reference generator workload,
    user-generator.py:27,52) through the complete topology."""
    udir, adir = str(tmp_path / "u"), str(tmp_path / "a")
    os.makedirs(udir)
    os.makedirs(adir)
    out = str(tmp_path / "out")
    seq = 0
    with open(os.path.join(udir, "u.json"), "w") as fu, open(os.path.join(adir, "a.json"), "w") as fa:
        for i in range(10):
            seq += 1
            fu.write(json.dumps({"id": f"u{i}", "name": f"name{i}", "email": f"e{i}@x.com",
                                 "genre": "F", "registerDate": None, "seq": seq}) + "\n")
            for j in range(3):
                seq += 1
                fa.write(json.dumps({"userId": f"u{i}", "address": f"addr{i}-{j}", "city": "c",
                                     "state": f"S{j}", "zipCode": "z", "country": f"C{i % 2}",
                                     "seq": seq}) + "\n")

    users = spark.readStream.schema(USER_SEQ).json(udir)
    addresses = spark.readStream.schema(ADDR_SEQ).json(adir)
    pipe = ReferencePipeline(spark, users, addresses, out, str(tmp_path / "ckpt"))
    pipe.start()
    try:
        pipe.process_all()
    finally:
        pipe.stop()

    # userAddress: upsert collapses the 4-emission inflation to final snapshots
    rows = {r["userId"]: r for r in pipe.sinks["userAddress"].read().collect()}
    assert len(rows) == 10
    assert all(len(r["addresses"]) == 3 for r in rows.values())

    # count tables exist, keyed by dimension; inflation counts S0 addresses
    # once per subsequent snapshot (SURVEY.md SS2.3): S0 in [a0],[a0,a1],[a0,a1,a2]
    st = {r["state"]: r["count"] for r in pipe.sinks["userCountByState"].read().collect()}
    assert st == {"S0": 30, "S1": 20, "S2": 10}
    co = pipe.sinks["userCountByCountry"].read().collect()
    assert sum(r["count"] for r in co) == 60 and {r["country"] for r in co} == {"C0", "C1"}


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """A batch must rewrite only the hash buckets its keys land in --
    files in untouched bucket directories stay byte-identical."""
    path = str(tmp_path / "kv")
    sink = KeyedUpsertSink(spark, path, key="k", order_col="v", n_buckets=8)
    sink.apply(
        spark.createDataFrame([(f"key{i}", i) for i in range(40)], "k string, v int")
    )

    def bucket_files():
        out = {}
        for d in os.listdir(path):
            if d.startswith("__bucket="):
                full = os.path.join(path, d)
                out[d] = {
                    f: os.path.getmtime(os.path.join(full, f))
                    for f in os.listdir(full)
                    if f.endswith(".parquet")
                }
        return out

    before = bucket_files()
    # single-key batch touches exactly one bucket
    sink.apply(spark.createDataFrame([("key0", 999)], "k string, v int"))
    after = bucket_files()

    from pyspark.sql import functions as F
    touched = f"__bucket={spark.range(1).select(F.pmod(F.xxhash64(F.lit('key0')), F.lit(8))).first()[0]}"
    assert before.keys() == after.keys()
    for b in before:
        if b == touched:
            assert before[b] != after[b]  # rewritten
        else:
            assert before[b] == after[b]  # untouched

    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert got["key0"] == 999 and len(got) == 40


def _write_workload(tmp_path, n_users=8):
    udir, adir = str(tmp_path / "u"), str(tmp_path / "a")
    os.makedirs(udir, exist_ok=True)
    os.makedirs(adir, exist_ok=True)
    seq = 0
    with open(os.path.join(udir, "u.json"), "w") as fu, \
         open(os.path.join(adir, "a.json"), "w") as fa:
        for i in range(n_users):
            seq += 1
            fu.write(json.dumps({"id": f"u{i}", "name": f"name{i}",
                                 "email": f"e{i}@x.com", "genre": "F",
                                 "registerDate": None, "seq": seq}) + "\n")
            for j in range(3):
                seq += 1
                fa.write(json.dumps({"userId": f"u{i}", "address": f"addr{i}-{j}",
                                     "city": "c", "state": f"S{j}", "zipCode": "z",
                                     "country": f"C{i % 2}", "seq": seq}) + "\n")
    return udir, adir


def _run_pipeline(spark, tmp_path):
    udir, adir = _write_workload(tmp_path)
    out = str(tmp_path / "out")
    users = spark.readStream.schema(USER_SEQ).json(udir)
    addresses = spark.readStream.schema(ADDR_SEQ).json(adir)
    pipe = ReferencePipeline(spark, users, addresses, out,
                             str(tmp_path / "ckpt"),
                             window="365 days")
    pipe.start()
    try:
        pipe.process_all()
    finally:
        pipe.stop()
    return pipe


def test_shared_pipeline_final_tables(spark, tmp_path):
    """The shared-join foreachBatch multiplexer (one join execution)
    lands the three final tables _write_workload's fixed rows imply:
    8 users with addresses in seq order; emit-per-event inflation
    counts address j once per snapshot from the j-th on (S0 x3, S1 x2,
    S2 x1 per user), and each user's 3 snapshots carry 1+2+3 address
    rows into its country C{i % 2}."""
    pipe = _run_pipeline(spark, tmp_path)

    ua = {r["userId"]: r for r in pipe.sinks["userAddress"].read().collect()}
    assert {u: [a["address"] for a in r["addresses"]] for u, r in ua.items()} == {
        f"u{i}": [f"addr{i}-{j}" for j in range(3)] for i in range(8)
    }
    st = pipe.sinks["userCountByState"].read().collect()
    assert {r["state"]: r["count"] for r in st} == {"S0": 24, "S1": 16, "S2": 8}
    co = pipe.sinks["userCountByCountry"].read().collect()
    assert {r["country"]: r["count"] for r in co} == {"C0": 24, "C1": 24}


ADDRESSES = (
    "addresses array<struct<address:string,city:string,state:string,"
    "zipCode:string,country:string>>"
)


def _count_pipe(spark, out, window="365 days"):
    """A pipeline whose count pass runs without a streaming query."""
    pipe = ReferencePipeline.__new__(ReferencePipeline)
    pipe.window = window
    pipe._run_id = "runA"
    pipe.sinks = {
        table: TransactionalKeyedUpsertSink(spark, os.path.join(out, table), key=dim)
        for dim, table in COUNT_TABLES
    }
    return pipe


def _counts(pipe):
    """({state: count}, {country: count}) as the two tables hold them."""
    return tuple(
        {r[dim]: r["count"] for r in pipe.sinks[table].read().collect()}
        for dim, table in COUNT_TABLES
    )


def test_shared_mode_epoch_replay_guard(spark, tmp_path):
    """Re-running a micro-batch with the same epoch id (Structured
    Streaming retry) must not double-count the windowed totals."""
    pipe = _count_pipe(spark, str(tmp_path / "out"))
    batch = spark.createDataFrame(
        [("u1", [("a1", "c", "S0", "z", "C0")]),
         ("u2", [("a2", "c", "S0", "z", "C0"), ("a3", "c", "S1", "z", "C1")])],
        f"userId string, {ADDRESSES}",
    ).withColumn("ingest_time", F.current_timestamp())

    pipe._merge_counts(batch, epoch_id=0)
    first = _counts(pipe)
    assert first == ({"S0": 2, "S1": 1}, {"C0": 2, "C1": 1})

    # replay of epoch 0: counts must be unchanged
    pipe._merge_counts(batch, epoch_id=0)
    assert _counts(pipe) == first

    # a genuine next batch (epoch 1) accumulates within the same window
    pipe._merge_counts(batch, epoch_id=1)
    assert _counts(pipe) == ({"S0": 4, "S1": 2}, {"C0": 4, "C1": 2})

    # checkpoint recreated over the SAME out_dir: batchIds restart and a
    # NEW run's batch arrives carrying the same epoch number (1) the
    # table already stores.  Raw __epoch equality dropped it (undercount,
    # VERDICT r10 wrong #3); with the __run namespace the stored rows
    # read as prior totals and accumulation continues.
    pipe._run_id = "runB"
    pipe._merge_counts(batch, epoch_id=1)
    assert _counts(pipe) == ({"S0": 6, "S1": 3}, {"C0": 6, "C1": 3})
    # and a retry of that new-run batch is still skipped
    pipe._merge_counts(batch, epoch_id=1)
    assert _counts(pipe) == ({"S0": 6, "S1": 3}, {"C0": 6, "C1": 3})


def test_merge_window_counts_rejects_legacy_table(spark, tmp_path):
    """A count table without __epoch/__run (written by a pre-epoch
    pipeline layout) cannot be told apart from this run's increments:
    the merge must refuse it, naming the table and the fresh-out_dir
    remedy, and leave the stored rows of both tables untouched."""
    batch = spark.createDataFrame(
        [("u", [("a", "c", "S0", "z", "C0")])], f"userId string, {ADDRESSES}"
    ).withColumn("ingest_time", F.current_timestamp())

    for name, stored in (
        # no __epoch, no __run
        ("cnt", spark.createDataFrame(
            [("S0", 5)], "state string, count bigint")),
        # __epoch but no __run
        ("cnt_epoch", spark.createDataFrame(
            [("S0", 5, 0)], "state string, count bigint, __epoch long")),
    ):
        pipe = _count_pipe(spark, str(tmp_path / name))
        sink = pipe.sinks["userCountByState"]
        sink.apply(stored)
        with pytest.raises(ValueError, match="fresh out_dir") as err:
            pipe._merge_counts(batch, epoch_id=0)
        assert sink.path in str(err.value)
        assert {r["state"]: r["count"] for r in sink.read().collect()} == {"S0": 5}
        assert pipe.sinks["userCountByCountry"].read() is None


def test_merge_counts_window_rollover(spark, tmp_path):
    """Per key the table keeps the LATEST window's running total: a
    stored count of an older window restarts at this batch's increment,
    a stored count of the same window is added to, and a stored newer
    window is kept as it is.  A NULL state is one more key."""
    pipe = _count_pipe(spark, str(tmp_path / "out"), window="1 minute")
    old, now, new = (datetime(2026, 1, 1, 12, m) for m in (4, 5, 6))
    pipe.sinks["userCountByState"].apply(spark.createDataFrame(
        [("S0", 7, old, 0, "runA"), ("S1", 5, new, 0, "runA"),
         ("S2", 3, now, 0, "runA"), (None, 4, now, 0, "runA")],
        "state string, count bigint, window_start timestamp, __epoch int, __run string",
    ))
    pipe.sinks["userCountByCountry"].apply(spark.createDataFrame(
        [("C0", 9, old, 0, "runA")],
        "country string, count bigint, window_start timestamp, __epoch int, __run string",
    ))
    batch = spark.createDataFrame(
        [("u1", [("a1", "c", "S0", "z", "C0"), ("a2", "c", "S1", "z", "C0")]),
         ("u2", [("a3", "c", "S2", "z", "C0"), ("a4", "c", None, "z", "C0")])],
        f"userId string, {ADDRESSES}",
    ).withColumn("ingest_time", F.lit(datetime(2026, 1, 1, 12, 5, 30)).cast("timestamp"))

    pipe._merge_counts(batch, epoch_id=1)

    def table(name, dim):
        return {
            r[dim]: (r["count"], r["window_start"], r["__epoch"])
            for r in pipe.sinks[name].read().collect()
        }

    assert table("userCountByState", "state") == {
        "S0": (1, now, 1), "S1": (5, new, 1), "S2": (4, now, 1), None: (5, now, 1)
    }
    assert table("userCountByCountry", "country") == {"C0": (4, now, 1)}


def test_foreach_batch_reads_each_count_table_once(spark, tmp_path, monkeypatch):
    """Structural pin of one micro-batch: each count table is
    snapshotted once and committed whole by one replace, from the rows
    the driver folded; only userAddress goes through apply."""
    out = str(tmp_path / "out")
    pipe = _count_pipe(spark, out)
    pipe.sinks["userAddress"] = TransactionalKeyedUpsertSink(
        spark, os.path.join(out, "userAddress"), key="userId", order_col="seq"
    )
    calls = []
    for name in ("read", "snapshot", "replace", "apply"):
        orig = getattr(TransactionalKeyedUpsertSink, name)

        def counted(self, *args, _orig=orig, _name=name):
            calls.append((_name, os.path.basename(self.path)))
            return _orig(self, *args)

        monkeypatch.setattr(TransactionalKeyedUpsertSink, name, counted)

    fn = pipe._shared_foreach_batch()
    batch = spark.createDataFrame(
        [("u1", 1, [("a1", "c", "S0", "z", "C0")])], f"userId string, seq long, {ADDRESSES}"
    )
    for epoch in (0, 1):  # empty tables, then stored rows
        calls.clear()
        fn(batch, epoch)
        assert sorted(calls) == sorted(
            [(op, table) for _, table in COUNT_TABLES for op in ("snapshot", "replace")]
            + [("apply", "userAddress")]
        )
    assert _counts(pipe) == ({"S0": 2}, {"C0": 2})


def test_merge_counts_refolds_after_a_lost_commit_race(spark, tmp_path, monkeypatch):
    """A commit that lands on a count table between the pipeline's
    snapshot and its replace makes the replace lose; the pipeline
    re-snapshots and folds again on top of the winner's rows, so no
    count is lost and none is doubled."""
    out = str(tmp_path / "out")
    pipe, rival = _count_pipe(spark, out), _count_pipe(spark, out)
    rival._run_id = "runB"
    batch = spark.createDataFrame(
        [("u1", [("a1", "c", "S0", "z", "C0"), ("a2", "c", "S1", "z", "C0")])],
        f"userId string, {ADDRESSES}",
    ).withColumn("ingest_time", F.lit(datetime(2026, 1, 1, 12, 5)).cast("timestamp"))
    pipe._merge_counts(batch, epoch_id=0)

    orig = TransactionalKeyedUpsertSink.replace
    raced = []

    def replace(self, df, version):
        if not raced:  # the rival commits both tables first, once
            raced.append(version)
            monkeypatch.setattr(TransactionalKeyedUpsertSink, "replace", orig)
            rival._merge_counts(batch, epoch_id=7)
            monkeypatch.setattr(TransactionalKeyedUpsertSink, "replace", replace)
        return orig(self, df, version)

    monkeypatch.setattr(TransactionalKeyedUpsertSink, "replace", replace)
    pipe._merge_counts(batch, epoch_id=1)
    assert raced
    assert _counts(pipe) == ({"S0": 3, "S1": 3}, {"C0": 6})


def test_run_namespace_marker_survives_restart(tmp_path):
    """Same checkpoint dir -> same run id (true replays still skipped
    after a driver restart); recreated checkpoint -> fresh id."""
    from data_stream_flink_user_address_spark.plans.pipeline import ReferencePipeline as RP

    ckpt = str(tmp_path / "ckpt" / "shared")
    first = RP._run_namespace(ckpt)
    assert RP._run_namespace(ckpt) == first  # restart, intact checkpoint
    import shutil
    shutil.rmtree(ckpt)
    assert RP._run_namespace(ckpt) != first  # recreated checkpoint
