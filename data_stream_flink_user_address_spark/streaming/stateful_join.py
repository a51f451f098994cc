"""Stateful emit-per-event user/address join.

Exact Spark re-expression of the reference KeyedCoProcessFunction
(``Main.java:78-133``), semantics pinned by SURVEY.md SS2.3:

- user arrives  -> store/overwrite user; ALWAYS emit (user, addresses-so-far),
  empty list if none yet (Main.java:104-115).
- address arrives -> append (duplicates kept, list grows monotonically);
  emit (user, full-list) ONLY if the user already arrived
  (Main.java:118-132); otherwise buffer silently.
- state never expires by default (reference has no TTL) -- an optional
  processing-time timeout is exposed as the scale knob the reference lacks.

Architecture: the two input streams are unioned with a ``side``
discriminator and grouped by the user key, so each key's user and address
events meet in one Spark state partition -- the same co-partitioning the
reference gets from ``connect(...).keyBy(User::getId, Address::getUserId)``
(Main.java:78-80).  The per-key state machine runs in
``applyInPandasWithState`` (Arrow-batched; state = one user row + the
accumulated address list).

Scale: state is per-user-key and proportional to that user's address
count -- shuffling by key distributes it across all executors; no global
state, no driver participation.  At 100 TB the knobs are the state-store
backend (RocksDB) and the optional timeout.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..schemas import USER_ADDRESS_SCHEMA

# Unioned event schema: key + side discriminator + a sequence number for
# deterministic within-batch ordering + the union of both sides' fields.
UNION_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("side", T.StringType(), False),  # 'U' | 'A'
        T.StructField("seq", T.LongType(), True),
        # user side
        T.StructField("name", T.StringType(), True),
        T.StructField("email", T.StringType(), True),
        T.StructField("genre", T.StringType(), True),
        T.StructField("registerDate", T.TimestampType(), True),
        # address side
        T.StructField("address", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("state", T.StringType(), True),
        T.StructField("zipCode", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
    ]
)

# State: has_user flag + user scalar fields + parallel arrays for the
# accumulated addresses (applyInPandasWithState state rows are flat
# tuples; parallel arrays avoid nested-struct state encoding).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("has_user", T.BooleanType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("email", T.StringType(), True),
        T.StructField("genre", T.StringType(), True),
        T.StructField("registerDate", T.TimestampType(), True),
        T.StructField("a_address", T.ArrayType(T.StringType()), True),
        T.StructField("a_city", T.ArrayType(T.StringType()), True),
        T.StructField("a_state", T.ArrayType(T.StringType()), True),
        T.StructField("a_zip", T.ArrayType(T.StringType()), True),
        T.StructField("a_country", T.ArrayType(T.StringType()), True),
    ]
)

# Output: USER_ADDRESS_SCHEMA + seq of the event that triggered the emission
# (lets tests assert the exact emission trace; harmless downstream).
OUTPUT_SCHEMA = T.StructType(USER_ADDRESS_SCHEMA.fields + [T.StructField("seq", T.LongType(), True)])


def union_with_discriminator(users: DataFrame, addresses: DataFrame, seq_col: str | None = "seq") -> DataFrame:
    """USER_SCHEMA + ADDRESS_SCHEMA frames -> one UNION_SCHEMA frame.

    ``seq_col`` names an existing ordering column on both inputs; pass
    None when arrival order within a micro-batch doesn't matter.
    """
    seq_u = F.col(seq_col) if seq_col and seq_col in users.columns else F.lit(None).cast("long")
    seq_a = F.col(seq_col) if seq_col and seq_col in addresses.columns else F.lit(None).cast("long")
    null_s = F.lit(None).cast("string")
    u = users.select(
        F.col("id").alias("key"),
        F.lit("U").alias("side"),
        seq_u.alias("seq"),
        "name",
        "email",
        "genre",
        "registerDate",
        null_s.alias("address"),
        null_s.alias("city"),
        null_s.alias("state"),
        null_s.alias("zipCode"),
        null_s.alias("country"),
    )
    a = addresses.select(
        F.col("userId").alias("key"),
        F.lit("A").alias("side"),
        seq_a.alias("seq"),
        null_s.alias("name"),
        null_s.alias("email"),
        null_s.alias("genre"),
        F.lit(None).cast("timestamp").alias("registerDate"),
        "address",
        "city",
        "state",
        "zipCode",
        "country",
    )
    return u.unionByName(a)


class _KeyJoinState:
    """Per-key join state + the processElement1/2 logic of Main.java:104-132.

    Drives the streaming operator (applyInPandasWithState).  The batch
    emission trace does NOT run this class: it computes the same
    emissions with vectorized prefix arithmetic over sorted runs, and
    the tests check each against the same per-key rules.
    """

    __slots__ = ("key", "has_user", "name", "email", "genre", "register_date", "addrs")

    def __init__(self, key: str):
        self.key = key
        self.has_user = False
        self.name = self.email = self.genre = None
        self.register_date = None
        self.addrs: list[list] = [[], [], [], [], []]

    @classmethod
    def from_tuple(cls, key: str, t: tuple) -> "_KeyJoinState":
        s = cls(key)
        (s.has_user, s.name, s.email, s.genre, s.register_date, *arrays) = t
        s.addrs = [list(a or []) for a in arrays]
        return s

    def to_tuple(self) -> tuple:
        return (self.has_user, self.name, self.email, self.genre, self.register_date, *self.addrs)

    def _emission(self, seq) -> dict[str, Any]:
        return {
            "userId": self.key,
            "userName": self.name,
            "userEmail": self.email,
            "genre": self.genre,
            "registerDate": self.register_date,
            "addresses": [
                {"address": a, "city": c, "state": s, "zipCode": z, "country": co}
                for a, c, s, z, co in zip(*self.addrs)
            ],
            "seq": None if seq is None or pd.isna(seq) else int(seq),
        }

    def on_row(self, row) -> dict[str, Any] | None:
        """Process one event; return the emission (or None for a buffered
        address -- Main.java:128-131)."""
        if row.side == "U":
            # store/overwrite user, ALWAYS emit current snapshot
            self.has_user = True
            self.name, self.email, self.genre = row.name, row.email, row.genre
            self.register_date = None if pd.isna(row.registerDate) else row.registerDate
            return self._emission(row.seq)
        # append address (dupes kept); emit only if user present
        self.addrs[0].append(row.address)
        self.addrs[1].append(row.city)
        self.addrs[2].append(row.state)
        self.addrs[3].append(row.zipCode)
        self.addrs[4].append(row.country)
        return self._emission(row.seq) if self.has_user else None


def _make_join_state_machine(ttl_ms: int | None = None):
    """Build the applyInPandasWithState adapter around _KeyJoinState.

    ``ttl_ms`` arms a processing-time timeout after each batch touching
    the key; on expiry the key's state is dropped (the scale knob the
    reference lacks -- its MapState grows forever, SURVEY.md SS2.3).
    """

    def machine(key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        s = _KeyJoinState.from_tuple(key[0], state.get) if state.exists else _KeyJoinState(key[0])
        out_rows: list[dict[str, Any]] = []
        for pdf in pdf_iter:
            if "seq" in pdf.columns and pdf["seq"].notna().any():
                pdf = pdf.sort_values("seq", kind="stable")
            for row in pdf.itertuples(index=False):
                emission = s.on_row(row)
                if emission is not None:
                    out_rows.append(emission)
        state.update(s.to_tuple())
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out_rows:
            yield pd.DataFrame(out_rows)

    return machine


def batch_emission_trace(users: DataFrame, addresses: DataFrame, seq_col: str = "seq") -> DataFrame:
    """Compute the per-key join's emissions over a bounded input and
    return the full emission trace (one row per emission, ordered by
    ``seq`` within each key).

    This is the batch-verifiable face of the stateful join: the driver's
    SQL oracle can reproduce the trace exactly (user emission with 0
    addresses, then the i-th address emission with i).  It does not
    share ``_KeyJoinState`` with the streaming operator; the emissions
    come from the vectorized arithmetic below, which
    ``tests/test_invariants.py`` checks against a reference simulation
    of the same per-key rules.

    Execution shape: repartition by key + sort within partitions by
    (key, seq), then ONE ``mapInPandas`` pass per partition -- keys are
    contiguous in the sorted run, so the whole state machine collapses to
    vectorized prefix arithmetic: within-key cumulative address counts
    give each emission's list length, within-key forward-fill gives the
    driving user fields, and each emission's address list is a prefix
    slice of the key's address run.  Per-address structs are built ONCE
    (not once per emission), so total work is O(rows + emitted list
    cells) with no per-row Python dispatch.
    """
    import numpy as np

    from ..shipping import ensure_package_on_workers

    ensure_package_on_workers(users.sparkSession)
    unioned = union_with_discriminator(users, addresses, seq_col)
    arranged = unioned.repartition("key").sortWithinPartitions("key", "seq")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = list(batches)  # keys may span Arrow batches; partition fits memory
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        n = len(pdf)
        if n == 0:
            return
        key = pdf["key"].to_numpy()
        new_key = np.empty(n, dtype=bool)
        new_key[0] = True
        new_key[1:] = key[1:] != key[:-1]
        gid = np.cumsum(new_key) - 1  # 0-based group index, rows sorted by key
        starts = np.flatnonzero(new_key)
        counts = np.diff(np.append(starts, n))

        is_user = (pdf["side"] == "U").to_numpy()
        is_addr = ~is_user
        cum_addr = np.cumsum(is_addr)
        cum_user = np.cumsum(is_user)
        # within-key cumulatives (inclusive of the current row)
        base_addr = cum_addr[starts] - is_addr[starts]
        base_user = cum_user[starts] - is_user[starts]
        addr_cnt = cum_addr - np.repeat(base_addr, counts)
        user_cnt = cum_user - np.repeat(base_user, counts)

        # Main.java:104-132 — user rows always emit; address rows emit
        # only if a user row already arrived for the key (user_cnt counts
        # only user rows, so inclusive == exclusive on address rows).
        emit = is_user | (user_cnt > 0)

        # driving user fields: latest user row at-or-before each row
        filled = {}
        user_mask = pd.Series(is_user, index=pdf.index)
        for colname in ("name", "email", "genre", "registerDate"):
            filled[colname] = pdf[colname].where(user_mask).groupby(gid).ffill()

        # one struct dict per ADDRESS ROW (built once, shared by slices)
        a_rows = pdf.loc[is_addr]
        addr_structs = np.empty(len(a_rows), dtype=object)
        addr_structs[:] = [
            {"address": a, "city": c, "state": s, "zipCode": z, "country": co}
            for a, c, s, z, co in zip(
                a_rows["address"].to_numpy(),
                a_rows["city"].to_numpy(),
                a_rows["state"].to_numpy(),
                a_rows["zipCode"].to_numpy(),
                a_rows["country"].to_numpy(),
            )
        ]
        e_gid = gid[emit]
        e_cnt = addr_cnt[emit]
        # key g's address run starts at base_addr[g] inside addr_structs
        e_off = base_addr[e_gid]
        seqs = pdf["seq"].to_numpy()[emit]
        out = pd.DataFrame(
            {
                "userId": key[emit],
                "userName": filled["name"].to_numpy()[emit],
                "userEmail": filled["email"].to_numpy()[emit],
                "genre": filled["genre"].to_numpy()[emit],
                "registerDate": filled["registerDate"][emit],
                "addresses": [
                    addr_structs[o : o + c].tolist() for o, c in zip(e_off, e_cnt)
                ],
                "seq": [None if pd.isna(s) else int(s) for s in seqs],
            }
        )
        for lo in range(0, len(out), 50_000):
            yield out.iloc[lo : lo + 50_000]

    return arranged.mapInPandas(run, schema=OUTPUT_SCHEMA)


from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)


class UserAddressProcessorV2(StatefulProcessor):
    """transformWithState processor for the emit-per-event join.

    Module-level (not nested in the operator) so its logic runs under
    test with a fake handle even where ``google.protobuf`` -- a runtime
    dependency of Spark's transformWithState state-server protocol, not
    of this class -- is unavailable.
    ``tests/test_stateful_join.py::test_v2_fake_handle_emissions_equal_v1``
    drives it through the scripted FIXTURES.md SS5 traces with fake
    Value/List states and asserts emission-equality with the v1
    ``_KeyJoinState`` machine;
    ``test_v2_append_list_writes_only_the_delta`` pins the incremental
    ``appendList`` write (the delta, never the full array).

    State shape: the user is a ``ValueState`` and the addresses a
    ``ListState`` appended incrementally -- with the RocksDB state store
    an address event writes ONE list entry instead of rewriting the
    whole accumulated array (v1's write amplification on hot keys).
    """

    def __init__(self, ttl_ms: int | None = None):
        self._ttl = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._user = handle.getValueState(
            "user",
            "name string, email string, genre string, registerDate timestamp",
            self._ttl,
        )
        self._addrs = handle.getListState(
            "addresses",
            "address string, city string, state string, zipCode string, country string",
            self._ttl,
        )

    def handleInputRows(self, key, rows, timerValues):
        pdf = pd.concat(list(rows), ignore_index=True)
        if len(pdf) == 0:
            return
        if "seq" in pdf.columns and pdf["seq"].notna().any():
            pdf = pdf.sort_values("seq", kind="stable")
        user = self._user.get() if self._user.exists() else None
        addrs = [tuple(t) for t in self._addrs.get()] if self._addrs.exists() else []
        out = []

        def emission(seq):
            return {
                "userId": key[0],
                "userName": user[0],
                "userEmail": user[1],
                "genre": user[2],
                "registerDate": user[3],
                "addresses": [
                    {"address": a, "city": c, "state": s, "zipCode": z, "country": co}
                    for a, c, s, z, co in addrs
                ],
                "seq": None if seq is None or pd.isna(seq) else int(seq),
            }

        new_addrs = []
        for row in pdf.itertuples(index=False):
            if row.side == "U":
                user = (
                    row.name,
                    row.email,
                    row.genre,
                    None if pd.isna(row.registerDate) else row.registerDate,
                )
                self._user.update(user)
                out.append(emission(row.seq))
            else:
                entry = (row.address, row.city, row.state, row.zipCode, row.country)
                addrs.append(entry)
                new_addrs.append(entry)
                if user is not None:
                    out.append(emission(row.seq))
        if new_addrs:
            # incremental append -- the whole point of ListState
            self._addrs.appendList(new_addrs)
        if out:
            yield pd.DataFrame(out)

    def close(self) -> None:
        pass


def stateful_user_address_join_v2(
    users: DataFrame,
    addresses: DataFrame,
    seq_col: str | None = "seq",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Same emit-per-event join on Spark 4's ``transformWithStateInPandas``.

    Semantics are identical to :func:`stateful_user_address_join`; the
    difference is the state encoding.  The v1 operator keeps the whole
    address array in one state row, so every event rewrites the full
    accumulated list; here the user is a ``ValueState`` and the
    addresses a ``ListState`` appended incrementally -- with the RocksDB
    state store an address event writes one list entry instead of
    rewriting a possibly-thousands-long array.  That is the right state
    shape when per-key lists grow large.  TTL (when given) is the state
    store's native per-state TTL rather than a hand-managed timer.

    Requires the RocksDB state store provider (set by this function on
    the session; transformWithState does not support the default HDFS
    provider) and the ``google.protobuf`` package (Spark's
    transformWithState Python runner speaks protobuf to the state
    server).  Environments without protobuf should use
    :func:`stateful_user_address_join` -- identical semantics.
    """
    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "stateful_user_address_join_v2 requires google.protobuf "
            "(transformWithState state-server protocol); use "
            "stateful_user_address_join instead"
        ) from e
    from ..shipping import ensure_package_on_workers

    ensure_package_on_workers(users.sparkSession)
    users.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    unioned = union_with_discriminator(users, addresses, seq_col)
    return unioned.groupBy("key").transformWithStateInPandas(
        statefulProcessor=UserAddressProcessorV2(state_ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none" if state_ttl_ms is None else "processingTime",
    )


def stateful_user_address_join(
    users: DataFrame,
    addresses: DataFrame,
    seq_col: str | None = "seq",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming emit-per-event join; returns the emission stream.

    Default (``state_ttl_ms=None``) matches the reference's
    never-expiring state (GroupStateTimeout.NoTimeout).  Passing a TTL
    arms a per-key processing-time timeout: a key idle for that long has
    its state dropped -- bounded state at scale, at the cost of a user
    re-arriving after expiry restarting with an empty address list.
    """
    from ..shipping import ensure_package_on_workers

    ensure_package_on_workers(users.sparkSession)
    unioned = union_with_discriminator(users, addresses, seq_col)
    timeout = (
        GroupStateTimeout.NoTimeout
        if state_ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        unioned.groupBy("key")
        .applyInPandasWithState(
            _make_join_state_machine(state_ttl_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )
