"""TransactionalKeyedUpsertSink: commit-log atomicity, conflict retry,
O(touched-buckets) writes, vacuum.

Upsert semantics target is the same as KeyedUpsertSink (reference
Sink/MongoSink.java:44-63 $set-with-upsert); what this backend adds is
cross-bucket crash atomicity and multi-writer safety via an atomic
create-if-absent commit log (Delta-style optimistic concurrency).
"""

import json
import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_stream_flink_user_address_spark.plans.pipeline import ReferencePipeline
from data_stream_flink_user_address_spark.schemas import ADDRESS_SCHEMA, USER_SCHEMA
from data_stream_flink_user_address_spark.streaming.sinks import (
    TransactionalKeyedUpsertSink,
)


def _mk(spark, tmp_path, **kw):
    return TransactionalKeyedUpsertSink(spark, str(tmp_path / "kv"), key="k", order_col="v", **kw)


def test_txn_insert_then_overwrite(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.apply(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"))
    sink.apply(spark.createDataFrame([("b", 99), ("c", 3)], "k string, v int"))
    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert got == {"a": 1, "b": 99, "c": 3}


def test_txn_last_write_wins_within_batch(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.apply(spark.createDataFrame([("a", 5), ("a", 9), ("a", 7)], "k string, v int"))
    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert got == {"a": 9}


def test_txn_idempotent_replay(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    batch = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    sink.apply(batch)
    sink.apply(batch)
    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert got == {"a": 1, "b": 2}


def test_txn_crash_before_commit_is_invisible(spark, tmp_path):
    """Data files written without a log entry must not change what
    readers see -- the cross-bucket atomicity the parquet store lacks."""
    sink = _mk(spark, tmp_path)
    sink.apply(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"))
    before = sorted(sink.read().collect())

    # simulate a writer dying after its data write, before its commit
    crashed = spark.createDataFrame([("a", 100), ("z", 9)], "k string, v int").withColumn(
        "__bucket", sink._bucket()
    )
    sink._write_data(crashed)

    assert sorted(sink.read().collect()) == before  # orphans invisible
    # replaying the batch converges (at-least-once delivery)
    sink.apply(spark.createDataFrame([("a", 100), ("z", 9)], "k string, v int"))
    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert got == {"a": 100, "b": 2, "z": 9}


def test_txn_rewrites_only_touched_buckets(spark, tmp_path):
    """The new manifest must carry untouched buckets' file lists forward
    verbatim -- per-batch cost is O(touched buckets), not O(table)."""
    sink = _mk(spark, tmp_path, n_buckets=8)
    sink.apply(spark.createDataFrame([(f"key{i}", i) for i in range(40)], "k string, v int"))

    fs = sink._fs()
    v0 = sink._head(fs)[0]
    m0 = sink._read_manifest(fs, v0)["buckets"]

    sink.apply(spark.createDataFrame([("key0", 999)], "k string, v int"))
    v1 = sink._head(fs)[0]
    m1 = sink._read_manifest(fs, v1)["buckets"]

    touched = str(
        spark.range(1).select(F.pmod(F.xxhash64(F.lit("key0")), F.lit(8))).first()[0]
    )
    assert v1 == v0 + 1
    assert m1.keys() == m0.keys()
    for b in m0:
        if b == touched:
            assert m1[b] != m0[b]
        else:
            assert m1[b] == m0[b]
    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert got["key0"] == 999 and len(got) == 40


def test_txn_replace_with_stale_version_loses(spark, tmp_path):
    """replace() publishes only on top of the snapshot it names: once
    another commit moved the head it returns False and the table is
    unchanged."""
    sink = _mk(spark, tmp_path, n_buckets=1)
    assert sink.snapshot() == (None, None)
    assert sink.replace(pa.table({"k": ["a"], "v": pa.array([1], pa.int32())}), None)
    sink.apply(spark.createDataFrame([("b", 2)], "k string, v int"))  # head 0 -> 1

    assert sink.replace(pa.table({"k": ["z"], "v": pa.array([9], pa.int32())}), 0) is False
    head, table = sink.snapshot()
    assert head == 1
    assert {r["k"]: r["v"] for r in table.to_pylist()} == {"a": 1, "b": 2}


def test_txn_column_added_in_one_bucket_reads_back(spark, tmp_path):
    """A batch carrying a new column writes only its own bucket; the
    manifest's merged schema reads the column back for every row (NULL
    where the files predate it) whichever file's footer comes first,
    and a later batch without the column, into a third bucket, keeps it."""
    sink = _mk(spark, tmp_path, n_buckets=8)
    bucket = dict(spark.createDataFrame(
        [(f"key{i}",) for i in range(40)], "k string"
    ).select("k", sink._bucket()).collect())
    a = "key0"
    b = next(k for k in bucket if bucket[k] != bucket[a])
    c = next(k for k in bucket if bucket[k] not in (bucket[a], bucket[b]))
    sink.apply(spark.createDataFrame([(a, 1)], "k string, v int"))
    sink.apply(spark.createDataFrame([(b, 2, "x")], "k string, v int, w string"))
    sink.apply(spark.createDataFrame([(c, 3)], "k string, v int"))
    got = {r["k"]: (r["v"], r["w"]) for r in sink.read().collect()}
    assert got == {a: (1, None), b: (2, "x"), c: (3, None)}


def test_txn_apply_releases_its_input(spark, tmp_path):
    """apply persists its collapsed input for the call only: applies
    leave the session's persistent-RDD count where it was."""
    jsc = spark.sparkContext._jsc
    sink = _mk(spark, tmp_path)
    before = jsc.getPersistentRDDs().size()
    for v in (1, 2, 3):
        sink.apply(spark.createDataFrame([("a", v), ("b", v)], "k string, v int"))
    assert jsc.getPersistentRDDs().size() == before


def test_txn_one_file_per_touched_bucket(spark, tmp_path):
    """Each commit writes one file per bucket it writes, so a bucket's
    file list does not grow with the number of batches."""
    sink = _mk(spark, tmp_path, n_buckets=2)
    for b in range(3):  # new keys in both buckets: stored rows survive
        sink.apply(spark.createDataFrame(
            [(f"key{b}-{i}", b) for i in range(20)], "k string, v int"
        ).repartition(4))
    fs = sink._fs()
    buckets = sink._read_manifest(fs, sink._head(fs)[0])["buckets"]
    assert len(buckets) == 2
    assert all(len(fl) == 1 for fl in buckets.values()), buckets
    assert len(sink.read().collect()) == 60


def test_txn_concurrent_commit_conflict_retries(spark, tmp_path):
    """If another writer claims the next version first, apply() must
    re-merge against the winner's state and commit on top of it."""
    sink = _mk(spark, tmp_path)
    sink.apply(spark.createDataFrame([("a", 1)], "k string, v int"))
    fs = sink._fs()
    v = sink._head(fs)[0]

    # impersonate a concurrent winner: commit version v+1 with b=7
    other = _mk(spark, tmp_path)
    inc = spark.createDataFrame([("b", 7)], "k string, v int").withColumn(
        "__bucket", other._bucket()
    )
    files = other._write_data(inc)
    old = other._read_manifest(fs, v)["buckets"]
    merged_manifest = {bk: fl for bk, fl in old.items()}
    merged_manifest.update(files)
    assert other._try_commit(fs, v + 1, {"version": v + 1, "buckets": merged_manifest})

    # this writer read version v, loses the race on v+1, retries on v+1
    sink.apply(spark.createDataFrame([("a", 50)], "k string, v int"))
    assert sink._head(fs)[0] == v + 2
    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert got == {"a": 50, "b": 7}  # both writers' effects survive


def test_txn_vacuum_reclaims_unreferenced_files(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.apply(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"))
    sink.apply(spark.createDataFrame([("a", 3)], "k string, v int"))
    removed = sink.vacuum(retain_seconds=0)
    assert removed >= 1  # version-0 file for a's bucket is now orphaned
    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert got == {"a": 3, "b": 2}
    # log retains only the current version
    fs = sink._fs()
    log_entries = [
        st.getPath().getName()
        for st in fs.listStatus(sink._jpath(sink._log_dir))
        if st.getPath().getName().endswith(".json")
    ]
    assert len(log_entries) == 1


def test_txn_vacuum_retention_preserves_recent_versions(spark, tmp_path):
    """Default vacuum must NOT reclaim files inside the retention
    window: a reader pinned to the just-replaced version (or an
    in-flight writer whose data lands before its commit) keeps its
    files.  This is the age guard that makes vacuum safe to run while
    the table is live."""
    sink = _mk(spark, tmp_path)
    sink.apply(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"))
    fs = sink._fs()
    v0 = sink._head(fs)[0]
    v0_files = [
        sink._resolve(f)
        for fl in sink._read_manifest(fs, v0)["buckets"].values()
        for f in fl
    ]
    sink.apply(spark.createDataFrame([("a", 3)], "k string, v int"))

    removed = sink.vacuum()  # default 1h retention; everything is seconds old
    assert removed == 0
    # the replaced version is still fully readable (pinned-reader story)
    assert fs.exists(sink._jpath(f"{sink._log_dir}/{v0:020d}.json"))
    old = {r["k"]: r["v"] for r in spark.read.parquet(*v0_files).collect()}
    assert old == {"a": 1, "b": 2}
    # and an in-flight writer's pre-commit data survives too
    crashed = spark.createDataFrame([("z", 9)], "k string, v int").withColumn(
        "__bucket", sink._bucket()
    )
    files = sink._write_data(crashed)
    assert sink.vacuum() == 0
    for fl in files.values():
        for f in fl:
            assert fs.exists(sink._jpath(sink._resolve(f)))


def test_txn_manifest_paths_relative_and_table_survives_move(spark, tmp_path):
    """Manifests store table-relative data paths, so physically moving
    the table directory (or addressing it via a different prefix) keeps
    every version readable -- the Delta-log property the absolute-URI
    manifests lacked."""
    import shutil

    sink = _mk(spark, tmp_path)
    sink.apply(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"))
    sink.apply(spark.createDataFrame([("b", 99)], "k string, v int"))
    fs = sink._fs()
    manifest = sink._read_manifest(fs, sink._head(fs)[0])
    for fl in manifest["buckets"].values():
        for f in fl:
            assert not f.startswith("/") and "://" not in f, f

    moved = str(tmp_path / "kv_moved")
    shutil.move(str(tmp_path / "kv"), moved)
    sink2 = TransactionalKeyedUpsertSink(spark, moved, key="k", order_col="v")
    got = {r["k"]: r["v"] for r in sink2.read().collect()}
    assert got == {"a": 1, "b": 99}
    # and the moved table accepts further commits + vacuums cleanly
    sink2.apply(spark.createDataFrame([("c", 5)], "k string, v int"))
    assert {r["k"] for r in sink2.read().collect()} == {"a", "b", "c"}
    assert sink2.vacuum(retain_seconds=0) >= 1


def test_txn_reader_skips_truncated_newest_manifest(spark, tmp_path):
    """A zero-byte/garbage newest log entry (crashed foreign writer
    using direct create) must not wedge the table: reads fall back to
    the newest parsable version and the next commit claims a FRESH
    version number past the junk entry."""
    sink = _mk(spark, tmp_path)
    sink.apply(spark.createDataFrame([("a", 1)], "k string, v int"))
    fs = sink._fs()
    v = sink._head(fs)[0]

    # simulate the crash: an empty manifest at v+1 and garbage at v+2
    for junk_v, body in ((v + 1, b""), (v + 2, b'{"version": 7, "buck')):
        out = fs.create(sink._jpath(f"{sink._log_dir}/{junk_v:020d}.json"), True)
        try:
            if body:
                out.write(bytearray(body))
        finally:
            out.close()

    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert got == {"a": 1}  # fell back past both junk entries
    sink.apply(spark.createDataFrame([("b", 2)], "k string, v int"))
    assert sink._head(fs)[0] == v + 3  # fresh number, junk not reused
    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert got == {"a": 1, "b": 2}  # merge based on the last VALID version


def test_txn_lost_race_cleans_tmp_and_returns_false(spark, tmp_path):
    """_try_commit on an already-claimed version: returns False (the
    retry signal) and leaves no .tmp litter in the log directory."""
    sink = _mk(spark, tmp_path)
    sink.apply(spark.createDataFrame([("a", 1)], "k string, v int"))
    fs = sink._fs()
    v = sink._head(fs)[0]
    assert sink._try_commit(fs, v, {"version": v, "buckets": {}}) is False
    leftovers = [
        st.getPath().getName()
        for st in fs.listStatus(sink._jpath(sink._log_dir))
        if st.getPath().getName().startswith(".tmp")
    ]
    assert leftovers == []
    # the claimed version's content is untouched by the losing attempt
    assert sink._read_manifest(fs, v)["buckets"] != {}


def test_txn_two_concurrent_writers_serialize(spark, tmp_path):
    """Two writers hammering the SAME table from separate threads: the
    commit arbiter must serialize every commit (no lost updates, one
    version per apply) and the merged table must equal the sequential
    result.  Keys are disjoint per writer except the shared{b} keys,
    which both writers upsert with identical values -- so the final
    table is deterministic regardless of interleaving."""
    import threading

    path = str(tmp_path / "kv")
    n_batches, n_keys = 4, 5
    errors = []

    def writer(tag):
        try:
            sink = TransactionalKeyedUpsertSink(spark, path, key="k", order_col="v")
            for b in range(n_batches):
                rows = [(f"{tag}-{b}-{i}", b * 100 + i) for i in range(n_keys)]
                rows.append((f"shared{b}", 1000 + b))
                sink.apply(spark.createDataFrame(rows, "k string, v int"))
        except Exception as e:  # surface failures from the thread
            errors.append((tag, e))

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("w1", "w2")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert errors == []

    check = TransactionalKeyedUpsertSink(spark, path, key="k", order_col="v")
    got = {r["k"]: r["v"] for r in check.read().collect()}
    expected = {
        f"{tag}-{b}-{i}": b * 100 + i
        for tag in ("w1", "w2")
        for b in range(n_batches)
        for i in range(n_keys)
    }
    expected.update({f"shared{b}": 1000 + b for b in range(n_batches)})
    assert got == expected
    # every apply won exactly one version: 8 commits -> versions 0..7
    fs = check._fs()
    assert check._head(fs)[0] == 2 * n_batches - 1
    assert len(check._list_versions(fs)) == 2 * n_batches


def test_txn_streaming_foreach_batch(spark, tmp_path):
    """The sink behind writeStream.foreachBatch: per-micro-batch keyed
    upsert with the commit log advancing once per batch."""
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "one.json", "w") as f:
        f.write(json.dumps({"k": "a", "v": 1}) + "\n")
        f.write(json.dumps({"k": "a", "v": 6}) + "\n")
        f.write(json.dumps({"k": "b", "v": 2}) + "\n")
    sink = _mk(spark, tmp_path)
    stream = spark.readStream.schema("k string, v int").json(str(src))
    q = (
        stream.writeStream.foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert got == {"a": 6, "b": 2}


def test_txn_full_pipeline(spark, tmp_path):
    """The reference topology on its commit-log sinks converges to the
    inflation totals of the reference workload."""
    udir, adir = str(tmp_path / "u"), str(tmp_path / "a")
    os.makedirs(udir)
    os.makedirs(adir)
    user_seq = T.StructType(USER_SCHEMA.fields + [T.StructField("seq", T.LongType())])
    addr_seq = T.StructType(ADDRESS_SCHEMA.fields + [T.StructField("seq", T.LongType())])
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
    users = spark.readStream.schema(user_seq).json(udir)
    addresses = spark.readStream.schema(addr_seq).json(adir)
    pipe = ReferencePipeline(
        spark, users, addresses, str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    pipe.start()
    try:
        pipe.process_all()
    finally:
        pipe.stop()

    ua = {r["userId"]: r for r in pipe.sinks["userAddress"].read().collect()}
    assert len(ua) == 10 and all(len(r["addresses"]) == 3 for r in ua.values())
    st = {r["state"]: r["count"] for r in pipe.sinks["userCountByState"].read().collect()}
    assert st == {"S0": 30, "S1": 20, "S2": 10}


def test_txn_vacuum_log_age_guard_reclaims_only_expired_entries(spark, tmp_path):
    """The log-entry half of vacuum's retention window: a superseded
    manifest OLDER than retain_seconds is reclaimed, while a superseded
    manifest INSIDE the window survives -- so a reader pinned to a
    recently-replaced version can still resolve its manifest (the data
    half of this guard is test_txn_vacuum_retention_preserves_recent_versions)."""
    sink = _mk(spark, tmp_path)
    fs = sink._fs()
    sink.apply(spark.createDataFrame([("a", 1)], "k string, v int"))   # v0
    sink.apply(spark.createDataFrame([("a", 2)], "k string, v int"))   # v1
    sink.apply(spark.createDataFrame([("a", 3)], "k string, v int"))   # v2 (current)
    v0_entry = sink._jpath(f"{sink._log_dir}/{0:020d}.json")
    v1_entry = sink._jpath(f"{sink._log_dir}/{1:020d}.json")
    # backdate v0's entry past the retention window; v1 stays recent
    two_hours_ago_ms = int((__import__("time").time() - 7200) * 1000)
    fs.setTimes(v0_entry, two_hours_ago_ms, -1)

    sink.vacuum(retain_seconds=3600)

    assert not fs.exists(v0_entry)          # expired superseded entry reclaimed
    assert fs.exists(v1_entry)              # recent superseded entry retained
    # the pinned reader holding v1 still resolves and reads its manifest
    m1 = sink._read_manifest(fs, 1)
    files = [sink._resolve(f) for fl in m1["buckets"].values() for f in fl]
    assert {r["v"] for r in spark.read.parquet(*files).collect()} == {2}
    # and the current version is of course untouched
    assert {r["v"] for r in sink.read().collect()} == {3}


def test_txn_publish_warns_on_non_atomic_rename_scheme(spark, tmp_path):
    """_publish's rename branch assumes atomic fail-if-exists rename;
    on schemes where rename is copy+delete (S3A et al.) it must emit a
    RuntimeWarning naming the hazard instead of staying silent."""
    import warnings as W

    from data_stream_flink_user_address_spark.streaming import sinks as S

    sink = _mk(spark, tmp_path)
    sink.apply(spark.createDataFrame([("a", 1)], "k string, v int"))
    fs = sink._fs()

    class FakeS3FS:
        """Delegates to the real local FS but claims to be s3a."""

        def getScheme(self):
            return "s3a"

        def __getattr__(self, name):
            return getattr(fs, name)

    tmp = f"{sink._log_dir}/.tmp-fake.json"
    out = fs.create(sink._jpath(tmp), True)
    try:
        out.write(bytearray(b'{"version": 99, "buckets": {}}'))
    finally:
        out.close()
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        ok = sink._publish(FakeS3FS(), tmp, f"{sink._log_dir}/{99:020d}.json")
    assert ok
    hazard = [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert hazard and "s3a" in str(hazard[0].message)
    assert "s3a" in S.NON_ATOMIC_RENAME_SCHEMES  # and the doc'd set is real
    # warning is once-per-sink, not per-commit
    out = fs.create(sink._jpath(tmp), True)
    try:
        out.write(bytearray(b'{"version": 100, "buckets": {}}'))
    finally:
        out.close()
    with W.catch_warnings(record=True) as caught2:
        W.simplefilter("always")
        sink._publish(FakeS3FS(), tmp, f"{sink._log_dir}/{100:020d}.json")
    assert not [w for w in caught2 if issubclass(w.category, RuntimeWarning)]


def test_txn_steady_state_head_does_not_list_the_log(spark, tmp_path, monkeypatch):
    """A sink finds the head it committed by probing the next version,
    not by listing _log; a head another writer moved costs one listing."""
    sink = _mk(spark, tmp_path)
    sink.apply(spark.createDataFrame([("a", 1)], "k string, v int"))
    listings = []
    orig = TransactionalKeyedUpsertSink._list_versions

    def counted(self, fs):
        listings.append(os.path.basename(self.path))
        return orig(self, fs)

    monkeypatch.setattr(TransactionalKeyedUpsertSink, "_list_versions", counted)
    for v in (2, 3):
        sink.apply(spark.createDataFrame([("a", v)], "k string, v int"))
    assert {r["k"]: r["v"] for r in sink.read().collect()} == {"a": 3}
    assert listings == []

    _mk(spark, tmp_path).apply(spark.createDataFrame([("b", 7)], "k string, v int"))
    listings.clear()
    assert sink._head(sink._fs())[0] == 3
    assert listings == ["kv"]


def test_txn_head_is_not_stale_after_a_rival_commits_and_vacuums(spark, tmp_path):
    """A sink idle while another writer commits past its remembered head
    and vacuums the superseded log entries still finds the true head: it
    must not take the vacuumed gap after its own entry for "nothing
    newer", serve its remembered rows, and publish below the head."""
    def kv(*rows):
        return pa.table({"k": [k for k, _ in rows], "v": pa.array([v for _, v in rows], pa.int32())})

    a, b = _mk(spark, tmp_path, n_buckets=1), _mk(spark, tmp_path, n_buckets=1)
    assert a.replace(kv(("a", 1)), None)  # head 0, remembered by a
    for head, row in ((0, ("b", 2)), (1, ("c", 3))):
        assert b.snapshot()[0] == head
        assert b.replace(kv(("a", 1), ("b", 2), row), head)
    b.vacuum(retain_seconds=0)  # entries 0 and 1 are gone; 2 is the head
    assert not os.path.exists(a._entry(0)) and not os.path.exists(a._entry(1))

    head, table = a.snapshot()
    assert head == 2
    assert {r["k"]: r["v"] for r in table.to_pylist()} == {"a": 1, "b": 2, "c": 3}
    assert a.replace(kv(("a", 1), ("b", 2), ("c", 3), ("d", 4)), head)
    assert {r["k"]: r["v"] for r in b.snapshot()[1].to_pylist()} == {"a": 1, "b": 2, "c": 3, "d": 4}


def test_txn_apply_refuses_a_bucket_outside_touched(spark, tmp_path):
    """apply with a caller-given touched set that misses a bucket of the
    batch raises and publishes nothing: that bucket's stored rows were
    never read, so a commit would drop them."""
    sink = _mk(spark, tmp_path, n_buckets=8)
    stored = [(f"key{i}", i) for i in range(40)]
    sink.apply(spark.createDataFrame(stored, "k string, v int"))
    fs = sink._fs()
    head = sink._head(fs)[0]
    batch = spark.createDataFrame([("key0", 100), ("key1", 101), ("key2", 102)], "k string, v int")
    buckets = {r[0] for r in batch.select(sink._bucket()).collect()}
    assert len(buckets) > 1

    with pytest.raises(ValueError, match="outside touched"):
        sink.apply(batch, touched=set(sorted(buckets)[:1]))
    assert sink._head(fs)[0] == head
    assert {r["k"]: r["v"] for r in sink.read().collect()} == dict(stored)

    sink.apply(batch, touched=buckets)
    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert got == {**dict(stored), "key0": 100, "key1": 101, "key2": 102}
