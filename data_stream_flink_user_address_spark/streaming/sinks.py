"""Keyed upsert sinks -- Spark re-expression of reference Sink/MongoSink.java.

Reference semantics (``Sink/MongoSink.java:44-63``): per record,
``updateOne({key: doc[key]}, {$set: doc}, upsert=true)`` -- last-write-wins
keyed upsert, idempotent per key, no transactions.  Three instances:
userAddress (key userId), userCountByState (key state), userCountByCountry
(key country) -- ``Main.java:170-179``.  A NULL key upserts like any other.

Spark mapping: ``writeStream.foreachBatch`` with a per-batch keyed merge.
The pipeline's only backend is :class:`TransactionalKeyedUpsertSink`
(commit log); on a real deployment the same interface fronts Delta
``MERGE`` or the Mongo Spark connector -- the batch-level dedup logic is
identical.

A commit can also carry caller metadata in its log entry (Delta's
``commitInfo.userMetadata``): ``apply(df, touched, metadata)`` takes it
as a function of the head's metadata and publishes both in one log
version.  The reference pipeline keeps its two count tables there --
one row per state or country, folded on the driver -- so a micro-batch
commits all three of the reference's collections at once, and a crash
leaves either all of them or none of them advanced.

Micro-batch retries replay a batch: the merge is idempotent per key, so
at-least-once delivery converges exactly like the reference's upsert.
"""

from __future__ import annotations

import json
import os
import time
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Filesystems whose ``rename`` is copy+delete (or otherwise cannot
# atomically refuse an existing destination), so the write-temp-then-
# publish commit arbiter in TransactionalKeyedUpsertSink._publish is NOT
# safe against concurrent writers there.  Delta Lake solves the same
# problem with a LogStore per scheme (S3SingleDriverLogStore etc.); this
# sink supports local (hard-link publish) and HDFS-like atomic-rename
# stores, and warns -- rather than silently corrupting -- elsewhere.
NON_ATOMIC_RENAME_SCHEMES = frozenset(
    {"s3", "s3a", "s3n", "gs", "oss", "cos", "cosn", "swift"}
)


def latest_per_key(df: DataFrame, key: str, order_col: str | None) -> DataFrame:
    """Collapse a batch to one row per key (last-write-wins).

    ``order_col`` defines "last"; None means any row may win (matches the
    reference's nondeterministic per-record ordering across parallel
    sink subtasks).
    """
    if order_col is None:
        return df.dropDuplicates([key])
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def survivors(stored: DataFrame, incoming: DataFrame, key: str) -> DataFrame:
    """Stored rows the batch does not replace (null-safe: NULL replaces NULL)."""
    keys = incoming.select(F.col(key).alias("__key"))
    return stored.join(keys, F.col(key).eqNullSafe(F.col("__key")), "left_anti")


class KeyedUpsertSink:
    """Parquet-backed keyed upsert table (MongoSink.java analogue).

    ``path`` holds the table hash-bucketed by key into ``n_buckets``
    partition directories (``__bucket=k/``).  ``apply`` merges a batch:
    new keys inserted, existing keys overwritten ($set-with-upsert
    semantics).  Only the buckets containing the batch's keys are read
    (partition pruning) and rewritten (dynamic partition overwrite) --
    per-batch cost is O(touched buckets), not O(table), which is what
    keeps a continuously-upserting sink viable as the keyed table grows.

    Durability limits (by design, matching the reference's
    no-transactions Mongo sink): SINGLE writer on a LOCAL/HDFS-like
    filesystem only.  ``_read_raw`` probes bucket dirs via
    ``os.listdir``, so ``path`` must be driver-visible; and dynamic
    partition overwrite is atomic per bucket directory but not across
    buckets -- a crash mid-commit can leave some touched buckets new and
    others old (replaying the batch converges, since the merge is
    idempotent per key).  For multi-writer or crash-transactional
    deployments swap this class for Delta ``MERGE`` behind the same
    ``apply(df)`` interface.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str,
        order_col: str | None = None,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.key = key
        self.order_col = order_col
        self.n_buckets = n_buckets

    def _bucket(self):
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.n_buckets))

    def _read_raw(self) -> DataFrame | None:
        if not os.path.isdir(self.path) or not any(
            e.startswith("__bucket=") for e in os.listdir(self.path)
        ):
            return None
        return self.spark.read.parquet(self.path)

    def read(self) -> DataFrame | None:
        """Current table contents (without the internal bucket column)."""
        raw = self._read_raw()
        return None if raw is None else raw.drop("__bucket")

    def apply(self, batch_df: DataFrame) -> None:
        incoming = latest_per_key(batch_df, self.key, self.order_col).withColumn(
            "__bucket", self._bucket()
        )
        current = self._read_raw()
        if current is None:
            merged = incoming
        else:
            touched = [r[0] for r in incoming.select("__bucket").distinct().collect()]
            # partition pruning: only touched bucket dirs are scanned
            kept = survivors(
                current.filter(F.col("__bucket").isin(touched)), incoming, self.key
            )
            # new batch wins on key collision (MongoSink $set upsert).
            # allowMissingColumns: a stored table written under an older
            # schema may lack columns the incoming batch now carries --
            # survivors get NULL there instead of failing the union with
            # AnalysisException.
            merged = incoming.unionByName(kept, allowMissingColumns=True)
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(self.path)
        )

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch``."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            self.apply(batch_df)

        return fn


class TransactionalKeyedUpsertSink:
    """Keyed upsert table with an atomic commit log (Delta-MERGE-shaped).

    Same ``apply(df)`` / ``read()`` / ``foreach_batch()`` surface and
    MongoSink.java:44-63 upsert semantics as :class:`KeyedUpsertSink`,
    but the two durability limits of the parquet-directory store are
    fixed:

    - **Cross-bucket crash atomicity.**  A commit is the atomic creation
      of one manifest file ``_log/{version}.json`` listing every data
      file of every bucket at that version.  Data files are written
      FIRST under a fresh ``data/txn-*/`` directory; a crash before the
      log entry appears leaves only unreferenced orphans -- readers
      still see the previous version in full.  (The parquet store's
      dynamic partition overwrite was atomic per bucket but not across
      buckets.)
    - **Path abstraction + multi-writer.**  All metadata I/O goes
      through the Hadoop ``FileSystem`` API resolved from the path (no
      ``os.listdir``), so the table works on any Hadoop-addressable
      store.  The commit arbiter is write-temp-then-publish (Delta
      HDFSLogStore pattern): the manifest body is fully written and
      closed as ``_log/.tmp-*`` FIRST, then published to
      ``_log/{version}.json`` by an atomic fail-if-exists move -- a
      POSIX hard link on local filesystems (``rename(2)`` silently
      replaces, ``link(2)`` atomically fails on an existing target) and
      ``FileSystem.rename`` elsewhere (atomic no-overwrite on HDFS).
      Multi-writer safety therefore requires a scheme with one of those
      primitives: ``file`` and ``hdfs``-like stores qualify; object
      stores whose rename is copy+delete (``s3a``, ``gs``, ... -- see
      ``NON_ATOMIC_RENAME_SCHEMES``) do not, and ``_publish`` emits a
      ``RuntimeWarning`` there (single-writer use remains safe; Delta
      solves the same gap with a per-scheme ``LogStore``).
      Of two concurrent writers exactly one wins; the loser re-reads
      the winner's manifest and retries its merge on top -- optimistic
      concurrency, the same protocol as Delta Lake's transaction log.
      A manifest is therefore never visible half-written; as defense in
      depth readers also skip an unparsable/empty newest log entry
      (e.g. one produced by a crashed foreign writer) and fall back to
      the newest parsable version.

    Manifests store data-file paths RELATIVE to the table root, so the
    table survives being moved/renamed or addressed through a different
    filesystem prefix (absolute entries from older manifests are still
    resolved for compatibility).

    Each manifest also records the table schema (the merged schema of
    every committed batch, without ``__bucket``), and every read passes
    it to ``spark.read.schema``: no footer-inference job, and a column
    that only some buckets' files carry reads back as NULL elsewhere
    instead of depending on which footer Spark samples.  A manifest
    without a schema (older tables) is read by inference.

    **Finding the head.**  The sink remembers the last version it
    committed or found, and finds the head by probing that its entry
    still exists and ``version + 1`` does not: two metadata calls
    however long the log is.  (An entry that is gone was vacuumed, and
    vacuum removes entries oldest first, so a head another writer moved
    and vacuumed past is never mistaken for the current one.)
    Only a fresh sink, or a head another writer moved, lists ``_log``
    -- once, reading the newest claimed version and the newest
    parsable manifest from that one listing.  A claimed version is
    never reused, even when its entry is unparsable.

    Scale shape is unchanged: a batch reads and rewrites only the
    buckets its keys hash to (the manifest carries the untouched
    buckets' file lists forward), so per-batch cost is O(touched
    buckets) however large the table grows.  Every commit writes ONE
    file per bucket it writes, so a bucket's file list does not grow
    with the number of batches.

    ``apply(df, touched)`` persists its LWW-collapsed input for the
    length of the call -- the merge and every commit retry share one
    computation -- and unpersists it before returning, so a
    long-running stream pins nothing between batches.  ``touched`` is
    the set of buckets the batch's keys hash to, when the caller has
    already collected it (the reference pipeline does, in the same
    ``collect`` as its counts); otherwise ``apply`` probes it with one
    ``distinct().collect()``.  A commit that wrote a bucket outside
    ``touched`` is refused before it is published: the stored rows of
    that bucket were never read, so publishing would drop them.

    **Commit metadata.**  ``apply(df, touched, metadata)`` also
    publishes caller metadata -- any JSON value -- in the same log entry
    as the data.  ``metadata`` is a function from the head's metadata
    (None before the first commit) to this commit's, and ``apply`` calls
    it again on every commit attempt, so a lost race re-derives it from
    the winner's; without it the head's metadata carries forward.
    :meth:`read_metadata` returns the head's, from memory while this
    sink's last commit is still the head (the manifest is kept as its
    JSON reads back, so memory and a fresh sink agree).  The sink does
    not interpret the value.  A batch with no rows commits nothing,
    metadata included.

    **Storage.**  Old versions' files stay until :meth:`vacuum`, which
    reclaims unreferenced files older than its retention window --
    protecting both readers pinned to a just-replaced version and
    in-flight writers whose data is written before their commit -- and
    removes each ``data/txn-*`` directory whole once nothing in it is
    live.  The reference pipeline calls it on its one sink on a fixed
    schedule (``plans/pipeline.py:VACUUM_EVERY_BATCHES``).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str,
        order_col: str | None = None,
        n_buckets: int = 16,
        max_commit_retries: int = 10,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.key = key
        self.order_col = order_col
        self.n_buckets = n_buckets
        self.max_commit_retries = max_commit_retries
        self._warned_non_atomic_scheme = False
        # (claimed head, newest parsable manifest) as last committed or
        # found by this sink
        self._last: tuple[int, dict | None] | None = None

    # -- Hadoop FS plumbing -------------------------------------------------

    def _jpath(self, p: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self):
        return self._jpath(self.path).getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )

    @property
    def _log_dir(self) -> str:
        return f"{self.path}/_log"

    def _entry(self, version: int) -> str:
        return f"{self._log_dir}/{version:020d}.json"

    @staticmethod
    def _version_of(name: str) -> int | None:
        """Log file name -> committed version; None for tmp files and
        names that are not a version."""
        if name.endswith(".json") and not name.startswith("."):
            try:
                return int(name[: -len(".json")])
            except ValueError:
                return None
        return None

    def _list_versions(self, fs) -> list[int]:
        """Committed version numbers, newest first (tmp files excluded)."""
        log = self._jpath(self._log_dir)
        if not fs.exists(log):
            return []
        versions = (self._version_of(st.getPath().getName()) for st in fs.listStatus(log))
        return sorted((v for v in versions if v is not None), reverse=True)

    def _read_manifest(self, fs, version: int) -> dict:
        stream = fs.open(self._jpath(self._entry(version)))
        try:
            body = self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return json.loads(body)

    def _try_read_manifest(self, fs, version: int) -> dict | None:
        """None instead of raising on an empty/truncated/corrupt entry."""
        try:
            return self._read_manifest(fs, version)
        except (json.JSONDecodeError, ValueError):
            return None

    def _newest_valid(self, fs, versions: list[int]) -> tuple[int | None, dict | None]:
        """(version, manifest) of the newest PARSABLE entry among
        ``versions`` (newest first).

        The publish protocol never exposes a half-written manifest, but
        a crashed foreign writer using direct create() could; skipping
        to the next parsable version keeps the table readable instead
        of wedging every read on a JSONDecodeError.
        """
        for v in versions:
            m = self._try_read_manifest(fs, v)
            if m is not None:
                return v, m
        return None, None

    def _resolve(self, f: str) -> str:
        """Manifest entry -> readable path (entries are table-relative;
        absolute URIs from older manifests pass through unchanged)."""
        if "://" in f or f.startswith(("/", "file:")):
            return f
        return f"{self.path}/{f}"

    def _publish(self, fs, tmp: str, target_str: str) -> bool:
        """Atomically move the fully-written tmp manifest to its final
        name iff no file exists there; False when a concurrent writer
        already owns the version.  Genuine I/O errors propagate."""
        jvm = self.spark._jvm
        target = self._jpath(target_str)
        if fs.exists(target):
            fs.delete(self._jpath(tmp), False)
            return False
        if fs.getScheme() == "file":
            # POSIX hard link: the one local-FS primitive that
            # atomically fails if the destination already exists
            # (rename(2) silently replaces; create(overwrite=false) is
            # check-then-create in Hadoop's RawLocalFileSystem).
            src = jvm.java.io.File(self._jpath(tmp).toUri().getPath()).toPath()
            dst = jvm.java.io.File(target.toUri().getPath()).toPath()
            try:
                jvm.java.nio.file.Files.createLink(dst, src)
            except Exception as e:
                fs.delete(self._jpath(tmp), False)
                if "FileAlreadyExists" in str(e) or fs.exists(target):
                    return False
                raise
            fs.delete(self._jpath(tmp), False)
            return True
        # HDFS and friends: rename refuses an existing destination.
        # That guarantee does NOT hold on object stores where rename is
        # copy+delete (S3A, GCS, ...) -- two racing writers could both
        # "publish" and the last copy silently wins.  Single-writer use
        # is still safe; warn so multi-writer deployments know to front
        # the log with an external arbiter (Delta LogStore pattern).
        if fs.getScheme() in NON_ATOMIC_RENAME_SCHEMES and not self._warned_non_atomic_scheme:
            self._warned_non_atomic_scheme = True
            warnings.warn(
                f"TransactionalKeyedUpsertSink at {self.path}: filesystem "
                f"scheme '{fs.getScheme()}' does not provide atomic "
                f"fail-if-exists rename; concurrent writers may corrupt the "
                f"commit log. Safe schemes: file (hard-link publish), hdfs "
                f"and other atomic-rename stores. See NON_ATOMIC_RENAME_SCHEMES.",
                RuntimeWarning,
                stacklevel=2,
            )
        try:
            renamed = fs.rename(self._jpath(tmp), target)
        except Exception as e:
            if "FileAlreadyExists" in str(e) or fs.exists(target):
                fs.delete(self._jpath(tmp), False)
                return False
            raise
        if not renamed:
            fs.delete(self._jpath(tmp), False)
        return renamed

    def _try_commit(self, fs, version: int, manifest: dict) -> bool:
        """Write-temp-then-publish ``_log/{version}.json``; False on a
        lost commit race.  The manifest body is complete and closed
        BEFORE it becomes visible under its final name, so readers can
        never observe a partial entry.  A win becomes the remembered
        head, as its JSON reads back."""
        fs.mkdirs(self._jpath(self._log_dir))
        tmp = f"{self._log_dir}/.tmp-{uuid.uuid4().hex}.json"
        body = json.dumps(manifest)
        out = fs.create(self._jpath(tmp), True)
        try:
            out.write(bytearray(body.encode("utf-8")))
        finally:
            out.close()
        if not self._publish(fs, tmp, self._entry(version)):
            return False
        self._last = (version, json.loads(body))
        return True

    # -- table surface ------------------------------------------------------

    def _bucket(self):
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.n_buckets))

    def _head(self, fs) -> tuple[int | None, dict | None]:
        """(newest CLAIMED version, manifest of the newest parsable one).
        A commit goes past the claimed head even when that entry is
        unparsable -- a claimed version number is never reused.

        O(1) in the steady state: while the remembered head's entry
        still exists and none follows it, that head stands.  Otherwise
        (a fresh sink, or another writer moved the head) one listing of
        ``_log`` answers both.  The remembered entry must still exist
        because :meth:`vacuum` removes superseded entries oldest first:
        once the head moved on and the log was vacuumed, the entry after
        the remembered one may be gone as well, but then so is the
        remembered one."""
        if (
            self._last is not None
            and fs.exists(self._jpath(self._entry(self._last[0])))
            and not fs.exists(self._jpath(self._entry(self._last[0] + 1)))
        ):
            return self._last
        versions = self._list_versions(fs)
        if not versions:
            return None, None
        self._last = (versions[0], self._newest_valid(fs, versions)[1])
        return self._last

    def _read_files(self, manifest: dict, buckets=None) -> DataFrame:
        """The manifest's data files (only ``buckets`` when given), read
        with the manifest's schema when it records one."""
        files = [
            self._resolve(f)
            for b, fl in manifest["buckets"].items()
            if buckets is None or int(b) in buckets
            for f in fl
        ]
        reader = self.spark.read
        if "schema" in manifest:
            reader = reader.schema(T.StructType.fromJson(manifest["schema"]))
        return reader.parquet(*files)

    def read(self) -> DataFrame | None:
        """Current committed contents (None before the first commit)."""
        manifest = self._head(self._fs())[1]
        return None if manifest is None else self._read_files(manifest)

    def read_metadata(self):
        """The head's commit metadata (None before the first commit, or
        when no commit carried any)."""
        manifest = self._head(self._fs())[1]
        return None if manifest is None else manifest.get("metadata")

    def _write_data(self, merged: DataFrame) -> dict[str, list[str]]:
        """Write ``merged`` (which carries ``__bucket``) as one file per
        bucket; return bucket -> new files as TABLE-RELATIVE paths (the
        manifest must survive the table directory moving or being
        addressed via another prefix)."""
        txn = f"data/txn-{uuid.uuid4().hex}"
        (
            merged.repartition("__bucket").write
            # no _SUCCESS marker: the log entry is the commit
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            .partitionBy("__bucket")
            .parquet(f"{self.path}/{txn}")
        )
        fs = self._fs()
        out: dict[str, list[str]] = {}
        for bdir in fs.listStatus(self._jpath(f"{self.path}/{txn}")):
            name = bdir.getPath().getName()
            if bdir.isDirectory() and name.startswith("__bucket="):
                out[name[len("__bucket="):]] = [
                    f"{txn}/{name}/{st.getPath().getName()}"
                    for st in fs.listStatus(bdir.getPath())
                    if st.getPath().getName().endswith(".parquet")
                ]
        return out

    def apply(self, batch_df: DataFrame, touched: set[int] | None = None, metadata=None) -> None:
        """Upsert ``batch_df``.  ``touched`` -- the buckets its keys hash
        to, if the caller already knows them -- saves the probe job; it
        must cover every key's bucket, or the commit is refused.
        ``metadata`` maps the head's commit metadata to this commit's
        (see the class docstring)."""
        # persisted for the call: the probe, the merge and every retry
        # share one computation, and nothing stays pinned afterwards
        incoming = latest_per_key(batch_df, self.key, self.order_col).withColumn(
            "__bucket", self._bucket()
        ).persist()
        try:
            if touched is None:
                # bounded collect: <= n_buckets values
                touched = {int(r[0]) for r in incoming.select("__bucket").distinct().collect()}
            if not touched:
                return
            fs = self._fs()
            for _ in range(self.max_commit_retries):
                head, base = self._head(fs)
                old_buckets: dict[str, list[str]] = {} if base is None else base["buckets"]
                merged = incoming
                if any(int(b) in touched for b in old_buckets):
                    kept = survivors(
                        self._read_files(base, touched), incoming, self.key
                    ).withColumn("__bucket", self._bucket())
                    # allowMissingColumns: as in KeyedUpsertSink.apply
                    merged = incoming.unionByName(kept, allowMissingColumns=True)
                schema = merged.drop("__bucket").schema
                if base is not None and "schema" in base:
                    # columns that only untouched buckets carry stay
                    schema = T.StructType(schema.fields + [
                        f for f in T.StructType.fromJson(base["schema"])
                        if f.name not in schema.fieldNames()
                    ])
                written = self._write_data(merged)
                stray = {int(b) for b in written} - touched
                if stray:
                    # those buckets' stored rows were never read: a commit
                    # would drop them (the files stay as orphans for vacuum)
                    raise ValueError(
                        f"TransactionalKeyedUpsertSink at {self.path!r}: the batch "
                        f"wrote bucket(s) {sorted(stray)} outside touched="
                        f"{sorted(touched)}; nothing was published"
                    )
                buckets = {b: fl for b, fl in old_buckets.items() if int(b) not in touched}
                buckets.update(written)
                nxt = 0 if head is None else head + 1
                manifest = {"version": nxt, "schema": schema.jsonValue(), "buckets": buckets}
                meta = None if base is None else base.get("metadata")
                if metadata is not None:
                    meta = metadata(meta)
                if meta is not None:
                    manifest["metadata"] = meta
                if self._try_commit(fs, nxt, manifest):
                    return
                # lost the race: another writer committed nxt; re-merge
                # (and re-derive the metadata) against their table state
                # (the orphaned data files are unreferenced and reclaimed
                # by vacuum)
            raise RuntimeError(
                f"TransactionalKeyedUpsertSink: commit contention exceeded "
                f"{self.max_commit_retries} retries at {self.path}"
            )
        finally:
            incoming.unpersist()

    def vacuum(self, retain_seconds: float = 3600.0) -> int:
        """Delete data files not referenced by the newest parsable
        manifest, and the log entries it supersedes, PROVIDED they are
        older than ``retain_seconds`` (Delta ``VACUUM ... RETAIN``-style
        age guard); returns the number of data files removed.  A
        ``data/txn-*`` directory goes whole -- markers, checksums and
        bucket directories too -- once none of its files is live and
        every entry in it is past retention.

        The retention window is the safety mechanism: a reader pinned to
        a just-replaced version finishes its scan, and an in-flight
        concurrent writer -- whose data files exist BEFORE its commit by
        design -- cannot have its pre-commit files reclaimed from under
        it.  ``retain_seconds=0`` reclaims everything unreferenced
        immediately and is only safe with all readers and writers
        quiesced.  A claimed version newer than the newest parsable one
        is kept, so its number is never reused."""
        fs = self._fs()
        log_dir = self._jpath(self._log_dir)
        if not fs.exists(log_dir):
            return 0
        log = [(self._version_of(st.getPath().getName()), st) for st in fs.listStatus(log_dir)]
        version, manifest = self._newest_valid(
            fs, sorted((v for v, _ in log if v is not None), reverse=True)
        )
        if manifest is None:
            return 0
        live = set()
        for fl in manifest["buckets"].values():
            for f in fl:
                live.add(f)
                live.add(self._resolve(f))
        cutoff_ms = (time.time() - retain_seconds) * 1000.0
        removed = 0
        data_dir = self._jpath(f"{self.path}/data")
        if fs.exists(data_dir):
            for txn in fs.listStatus(data_dir):
                # a directory changed inside the window holds a recent
                # entry, so nothing in it can go yet
                if txn.getModificationTime() < cutoff_ms:
                    removed += self._vacuum_txn(fs, txn, live, cutoff_ms)
        # oldest first, so the log never has a gap below an entry that
        # is still there (the O(1) head check in _head relies on it)
        for v, st in sorted(log, key=lambda e: -1 if e[0] is None else e[0]):
            is_old_version = v is not None and v < version
            is_stale_tmp = st.getPath().getName().startswith(".tmp-")
            if (is_old_version or is_stale_tmp) and st.getModificationTime() < cutoff_ms:
                fs.delete(st.getPath(), False)
        return removed

    def _vacuum_txn(self, fs, txn, live: set[str], cutoff_ms: float) -> int:
        """Reclaim one ``data/txn-*`` directory: whole when none of its
        files is live and every entry is past ``cutoff_ms``, else its
        expired unreferenced ``.parquet`` files one by one.  Returns the
        number of data files removed."""
        prefix = f"data/{txn.getPath().getName()}"
        entries = [(st, f"{prefix}/{st.getPath().getName()}") for st in fs.listStatus(txn.getPath())]
        for st, rel in list(entries):
            if st.isDirectory():
                entries += [(leaf, f"{rel}/{leaf.getPath().getName()}")
                            for leaf in fs.listStatus(st.getPath())]
        expired = [st.getModificationTime() < cutoff_ms for st, _ in entries]
        data = [(st, old, rel in live or st.getPath().toString() in live)
                for (st, rel), old in zip(entries, expired) if rel.endswith(".parquet")]
        dead = [st for st, old, is_live in data if old and not is_live]
        if len(dead) == len(data) and all(expired):
            fs.delete(txn.getPath(), True)
        else:
            for st in dead:
                fs.delete(st.getPath(), False)
        return len(dead)

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch``."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            self.apply(batch_df)

        return fn


def console_sink(df: DataFrame, **options):
    """K5 -- reference's System.out.println debug sink (Main.java:147,164)."""
    return df.writeStream.format("console").options(**options)
