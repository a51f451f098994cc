"""Full-pipeline kill/restart: the complete reference topology
(streams -> stateful join -> windowed counts -> keyed upsert sinks)
stopped mid-stream and resumed from the SAME checkpoint directory must
converge to exactly the sequential result.

This is the pipeline-level counterpart of the operator-level
checkpoint-recovery test in tests/test_stateful_join.py: it exercises
recovery of the join state, the windowed-aggregation state, AND the
idempotent at-least-once replay of the foreachBatch upserts together.
(The reference never enables checkpointing -- SURVEY.md SS4 -- so this
is the fault-tolerance the Spark build adds.)
"""

import json
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T

from data_stream_flink_user_address_spark.plans.pipeline import ReferencePipeline
from data_stream_flink_user_address_spark.schemas import ADDRESS_SCHEMA, USER_SCHEMA

USER_SEQ = T.StructType(USER_SCHEMA.fields + [T.StructField("seq", T.LongType())])
ADDR_SEQ = T.StructType(ADDRESS_SCHEMA.fields + [T.StructField("seq", T.LongType())])


def _write_jsonl(d, rows):
    with open(os.path.join(d, f"{uuid.uuid4().hex}.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_pipeline_restart_converges(spark, tmp_path):
    udir, adir = str(tmp_path / "u"), str(tmp_path / "a")
    os.makedirs(udir)
    os.makedirs(adir)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def start_pipeline():
        users = spark.readStream.schema(USER_SEQ).json(udir)
        addresses = spark.readStream.schema(ADDR_SEQ).json(adir)
        # 365-day window: the epoch-aligned boundary cannot fall between
        # the two halves of the test, so the per-state counts are the
        # deterministic whole-run inflation totals
        pipe = ReferencePipeline(spark, users, addresses, out, ckpt,
                                 window="365 days")
        pipe.start()
        return pipe

    n_users, seq = 10, 0
    users_rows, addr_rows_by_j = [], {0: [], 1: [], 2: []}
    for i in range(n_users):
        seq += 1
        users_rows.append({"id": f"u{i}", "name": f"name{i}", "email": f"e{i}@x.com",
                           "genre": "F", "registerDate": None, "seq": seq})
        for j in range(3):
            seq += 1
            addr_rows_by_j[j].append({"userId": f"u{i}", "address": f"addr{i}-{j}",
                                      "city": "c", "state": f"S{j}", "zipCode": "z",
                                      "country": f"C{i % 2}", "seq": seq})

    # ---- phase 1: users + first address, then the pipeline dies ----
    pipe1 = start_pipeline()
    try:
        _write_jsonl(udir, users_rows)
        _write_jsonl(adir, addr_rows_by_j[0])
        pipe1.process_all()
    finally:
        pipe1.stop()

    # mid-state sanity: every user snapshot has exactly 1 address so far
    mid = {r["userId"]: r for r in pipe1.sinks["userAddress"].read().collect()}
    assert len(mid) == n_users
    assert all(len(r["addresses"]) == 1 for r in mid.values())

    # ---- phase 2: a NEW pipeline on the same checkpoint finishes ----
    _write_jsonl(adir, addr_rows_by_j[1])  # arrives while nothing runs
    pipe2 = start_pipeline()
    try:
        pipe2.process_all()
        _write_jsonl(adir, addr_rows_by_j[2])
        pipe2.process_all()
    finally:
        pipe2.stop()

    # userAddress converged: recovered join state appended addresses
    # 2 and 3 to the list persisted before the restart
    ua = {r["userId"]: r for r in pipe2.sinks["userAddress"].read().collect()}
    assert len(ua) == n_users
    for i in range(n_users):
        got = [a["address"] for a in ua[f"u{i}"]["addresses"]]
        assert got == [f"addr{i}-{j}" for j in range(3)], got
        assert ua[f"u{i}"]["userName"] == f"name{i}"

    # windowed counts converged to the whole-run inflation totals
    # (SURVEY.md SS2.4: S0 is in snapshots [a0],[a0,a1],[a0,a1,a2] -> 30)
    st = {r["state"]: r["count"] for r in pipe2.sinks["userCountByState"].read().collect()}
    assert st == {"S0": 30, "S1": 20, "S2": 10}
    co = {r["country"]: r["count"] for r in pipe2.sinks["userCountByCountry"].read().collect()}
    assert co == {"C0": 30, "C1": 30}
    # one table on disk: the count rows ride in userAddress's log
    assert os.listdir(out) == ["userAddress"]
