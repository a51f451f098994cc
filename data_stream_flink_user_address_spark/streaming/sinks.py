"""Keyed upsert sinks -- Spark re-expression of reference Sink/MongoSink.java.

Reference semantics (``Sink/MongoSink.java:44-63``): per record,
``updateOne({key: doc[key]}, {$set: doc}, upsert=true)`` -- last-write-wins
keyed upsert, idempotent per key, no transactions.  Three instances:
userAddress (key userId), userCountByState (key state), userCountByCountry
(key country) -- ``Main.java:170-179``.  A NULL key upserts like any other.

Spark mapping: ``writeStream.foreachBatch`` with a per-batch keyed merge.
The pipeline's only backend is :class:`TransactionalKeyedUpsertSink`
(commit log; count rows ``(dim, count, window_start, __epoch, __run)``);
on a real deployment the same interface fronts Delta ``MERGE`` or the
Mongo Spark connector -- the batch-level dedup logic is identical.

Two ways to commit: ``apply(df)`` merges a batch into the touched
buckets inside Spark, and ``snapshot()`` + ``replace(df, version)``
commit a whole table a caller has already merged on the driver -- the
reference pipeline's count tables, which hold a handful of rows, take
the second path (one read and one write per batch, no Spark-side merge).

Micro-batch retries replay a batch: the merge is idempotent per key, so
at-least-once delivery converges exactly like the reference's upsert.
"""

from __future__ import annotations

import json
import os
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
            # AnalysisException.  (The reference pipeline's count tables
            # refuse such a table before merging: see
            # plans/pipeline.py:_count_snapshot.)
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

    Scale shape is unchanged: a batch reads and rewrites only the
    buckets its keys hash to (the manifest carries the untouched
    buckets' file lists forward), so per-batch cost is O(touched
    buckets) however large the table grows.  Every commit writes ONE
    file per bucket it writes, so a bucket's file list does not grow
    with the number of batches.

    ``apply(df)`` persists its LWW-collapsed input for the length of
    the call -- the bucket probe, the survivor anti-join and every
    commit retry share one computation -- and unpersists it before
    returning, so a long-running stream pins nothing between batches.

    ``snapshot()`` returns ``(head, table)``: the newest claimed log
    version (None before the first commit) and the committed contents
    at the newest parsable version (None before the first commit).
    ``replace(df, head)`` commits ``df`` -- one row per key, the
    caller's job -- as the WHOLE table at version ``head + 1`` and
    returns False, publishing nothing, if another writer has claimed
    that version since the snapshot; the caller re-snapshots, re-merges
    and retries.  It is the same optimistic protocol as ``apply``, for
    tables small enough that the caller merges them on the driver.
    Old versions' files stay
    until :meth:`vacuum`, which only reclaims unreferenced files older
    than its retention window -- protecting both readers pinned to a
    just-replaced version and in-flight writers whose data is written
    before their commit.
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

    def _list_versions(self, fs) -> list[int]:
        """Committed version numbers, newest first (tmp files excluded)."""
        log = self._jpath(self._log_dir)
        if not fs.exists(log):
            return []
        versions = []
        for st in fs.listStatus(log):
            name = st.getPath().getName()
            if name.endswith(".json") and not name.startswith("."):
                try:
                    versions.append(int(name[: -len(".json")]))
                except ValueError:
                    continue
        return sorted(versions, reverse=True)

    def _current_version(self, fs) -> int | None:
        versions = self._list_versions(fs)
        return versions[0] if versions else None

    def _read_manifest(self, fs, version: int) -> dict:
        stream = fs.open(self._jpath(f"{self._log_dir}/{version:020d}.json"))
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

    def _latest_valid_manifest(self, fs) -> tuple[int | None, dict | None]:
        """(version, manifest) of the newest PARSABLE log entry.

        The publish protocol never exposes a half-written manifest, but
        a crashed foreign writer using direct create() could; skipping
        to the next parsable version keeps the table readable instead
        of wedging every read on a JSONDecodeError.
        """
        for v in self._list_versions(fs):
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
        never observe a partial entry."""
        fs.mkdirs(self._jpath(self._log_dir))
        tmp = f"{self._log_dir}/.tmp-{uuid.uuid4().hex}.json"
        out = fs.create(self._jpath(tmp), True)
        try:
            out.write(bytearray(json.dumps(manifest).encode("utf-8")))
        finally:
            out.close()
        target = f"{self._log_dir}/{version:020d}.json"
        return self._publish(fs, tmp, target)

    # -- table surface ------------------------------------------------------

    def _bucket(self):
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.n_buckets))

    def _head(self, fs) -> tuple[int | None, dict | None]:
        """(newest CLAIMED version, manifest of the newest parsable one).
        A commit goes past the claimed head even when that entry is
        unparsable -- a claimed version number is never reused."""
        return self._current_version(fs), self._latest_valid_manifest(fs)[1]

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

    def snapshot(self) -> tuple[int | None, DataFrame | None]:
        """``(head version, committed contents)``; ``(None, None)``
        before the first commit.  Pass the head to :meth:`replace`."""
        head, manifest = self._head(self._fs())
        return head, None if manifest is None else self._read_files(manifest)

    def read(self) -> DataFrame | None:
        """Current committed contents (None before the first commit)."""
        return self.snapshot()[1]

    def _write_data(self, merged: DataFrame) -> dict[str, list[str]]:
        """Write ``merged`` (which carries ``__bucket``) as one file per
        bucket; return bucket -> new files as TABLE-RELATIVE paths (the
        manifest must survive the table directory moving or being
        addressed via another prefix)."""
        txn = f"data/txn-{uuid.uuid4().hex}"
        merged.repartition("__bucket").write.partitionBy("__bucket").parquet(
            f"{self.path}/{txn}"
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

    def replace(self, df: DataFrame, version: int | None) -> bool:
        """Commit ``df`` (one row per key) as the whole table, iff the
        head is still ``version`` (from :meth:`snapshot`); False, with
        the table unchanged, when another commit got there first."""
        files = self._write_data(df.withColumn("__bucket", self._bucket()))
        nxt = 0 if version is None else version + 1
        manifest = {"version": nxt, "schema": df.schema.jsonValue(), "buckets": files}
        return self._try_commit(self._fs(), nxt, manifest)

    def apply(self, batch_df: DataFrame) -> None:
        # persisted for the call: the probe, the merge and every retry
        # share one computation, and nothing stays pinned afterwards
        incoming = latest_per_key(batch_df, self.key, self.order_col).withColumn(
            "__bucket", self._bucket()
        ).persist()
        try:
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
                buckets = {b: fl for b, fl in old_buckets.items() if int(b) not in touched}
                buckets.update(self._write_data(merged))
                nxt = 0 if head is None else head + 1
                manifest = {"version": nxt, "schema": schema.jsonValue(), "buckets": buckets}
                if self._try_commit(fs, nxt, manifest):
                    return
                # lost the race: another writer committed nxt; re-merge
                # against their table state (the orphaned data files are
                # unreferenced and reclaimed by vacuum)
            raise RuntimeError(
                f"TransactionalKeyedUpsertSink: commit contention exceeded "
                f"{self.max_commit_retries} retries at {self.path}"
            )
        finally:
            incoming.unpersist()

    def vacuum(self, retain_seconds: float = 3600.0) -> int:
        """Delete data files not referenced by the current manifest, and
        superseded log entries, PROVIDED they are older than
        ``retain_seconds`` (Delta ``VACUUM ... RETAIN``-style age guard);
        returns the number of data files removed.

        The retention window is the safety mechanism: a reader pinned to
        a just-replaced version finishes its scan, and an in-flight
        concurrent writer -- whose data files exist BEFORE its commit by
        design -- cannot have its pre-commit files reclaimed from under
        it.  ``retain_seconds=0`` reclaims everything unreferenced
        immediately and is only safe with all readers and writers
        quiesced."""
        import time

        fs = self._fs()
        version, manifest = self._latest_valid_manifest(fs)
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
                for st in fs.listStatus(txn.getPath()):
                    if st.isDirectory():
                        for leaf in fs.listStatus(st.getPath()):
                            p = leaf.getPath()
                            rel = f"data/{txn.getPath().getName()}/{st.getPath().getName()}/{p.getName()}"
                            if (
                                p.getName().endswith(".parquet")
                                and rel not in live
                                and p.toString() not in live
                                and leaf.getModificationTime() < cutoff_ms
                            ):
                                fs.delete(p, False)
                                removed += 1
        current_name = f"{version:020d}.json"
        for st in fs.listStatus(self._jpath(self._log_dir)):
            name = st.getPath().getName()
            if name == current_name:
                continue
            is_old_version = name.endswith(".json") and not name.startswith(".")
            is_stale_tmp = name.startswith(".tmp-")
            if (is_old_version or is_stale_tmp) and st.getModificationTime() < cutoff_ms:
                fs.delete(st.getPath(), False)
        return removed

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch``."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            self.apply(batch_df)

        return fn


def console_sink(df: DataFrame, **options):
    """K5 -- reference's System.out.println debug sink (Main.java:147,164)."""
    return df.writeStream.format("console").options(**options)
