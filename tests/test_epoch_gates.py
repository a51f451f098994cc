"""The streaming admission gates against the ``streaming/epoch.py``
contract, in the default test gate.

* Replay: each gate's per-epoch function, run twice on the same epoch,
  leaves exactly what one run leaves, all of it under ``__epoch=<id>``
  (the deep per-gate kill/replay pins live in the gate modules' own
  tests).
* Session state: neither the epoch functions nor the store builders
  change the caller's session config -- in particular not
  ``spark.sql.sources.partitionOverwriteMode``, whose leak used to turn
  a caller's later full overwrite into a partition merge.
"""

import json
import math
import os
import sys
from functools import partial

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_stream_flink_user_address_spark.functions.chat import (  # noqa: E402
    _sft_gate_epoch,
    _sft_pack_epoch,
)
from data_stream_flink_user_address_spark.functions.classifier import (  # noqa: E402
    _nb_gate_batch,
    train_nb_quality,
)
from data_stream_flink_user_address_spark.functions.dedup import (  # noqa: E402
    _bucketed_gate,
    _exact_dedup_epoch,
    _minhash_gate,
    _near_dup_gate_batch,
    _simhash_gate,
    build_bucketed_fingerprint_store,
    build_fingerprint_store,
    build_minhash_band_store,
    build_simhash_band_store,
    incremental_exact_dedup,
    streaming_incremental_dedup_bucketed,
    streaming_incremental_minhash_dedup,
    streaming_incremental_simhash_dedup,
)
from data_stream_flink_user_address_spark.functions.ordering import (  # noqa: E402
    write_epoch_shards,
)
from data_stream_flink_user_address_spark.functions.pq import (  # noqa: E402
    pq_codebooks,
    pq_encode,
)
from data_stream_flink_user_address_spark.functions.profile import (  # noqa: E402
    _profile_epoch,
)
from data_stream_flink_user_address_spark.streaming.epoch import (  # noqa: E402
    write_partition,
)

OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"
EPOCH = 7

BASE = ("the quick brown fox jumps over the lazy dog while the band plays "
        "on and the crowd cheers loudly in the warm summer evening air")
NOVEL = ("another unrelated document describing parquet column chunk "
         "statistics predicate pushdown and row group pruning behaviour")
GOOD = [
    "the committee published a detailed report on regional water policy",
    "researchers describe the experimental setup and measured results",
    "this well written article explains the historical context",
]
BAD = [
    "click here buy now cheap pills best price limited offer click",
    "win win win free money casino jackpot click subscribe now now",
    "cheap cheap discount offer buy buy buy click here free free",
]


@pytest.fixture()
def default_overwrite_mode(spark):
    """Run on a session whose partitionOverwriteMode is unset (the
    default), restoring whatever the shared session held before."""
    prev = spark.conf.get(OVERWRITE_MODE, None)
    spark.conf.unset(OVERWRITE_MODE)
    yield
    if prev is None:
        spark.conf.unset(OVERWRITE_MODE)
    else:
        spark.conf.set(OVERWRITE_MODE, prev)


def _conf(spark) -> dict:
    return dict(spark.sql("SET").collect())


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _text_batch(spark):
    # a store duplicate, a novel doc and its within-batch copy
    return _docs(spark, [(10, BASE), (11, NOVEL), (12, NOVEL)])


def _convs(spark):
    def conv(i):
        words = " ".join(f"w{(i * 7 + j) % 11}" for j in range(4))
        return json.dumps([
            {"role": "user", "content": words},
            {"role": "assistant", "content": words.upper()},
        ])

    rows = [(i, conv(i)) for i in range(4)] + [(4, "{not json")]
    return spark.createDataFrame(rows, "conv_id long, conversation string")


# Each case builds (epoch_fn, batch, output paths, catalog tables).


def _exact(spark, tmp):
    store = str(tmp / "store")
    build_fingerprint_store(_docs(spark, [(0, BASE)]), store)
    out = str(tmp / "out")
    fn = partial(
        _exact_dedup_epoch, store_path=store, out_path=out, text_col="text",
        id_col="doc_id", batch_id_base=1000,
    )
    return fn, _text_batch(spark), [out], []


def _near_dup(spark, tmp):
    vecs = [
        (i, [math.sin(i * 0.7 + j * 0.3) for j in range(64)]) for i in range(20)
    ]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cb = pq_codebooks(corpus, m=8, k_sub=4, stride=1)
    codes = pq_encode(corpus, cb, m=8)
    batch = spark.createDataFrame(
        [(100, vecs[5][1])]  # a corpus copy: dropped
        + [(101 + i, [1.0 if (i + j) % 3 else -1.0 for j in range(64)])
           for i in range(2)],
        "vec_id long, embedding array<float>",
    )
    out = str(tmp / "out")
    fn = partial(
        _near_dup_gate_batch, corpus=corpus, corpus_codes=codes, codebooks=cb,
        out_path=out, threshold=0.99,
    )
    return fn, batch, [out], []


def _bucketed(spark, tmp):
    table = "epoch_gates_bkt_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    build_bucketed_fingerprint_store(
        _docs(spark, [(0, BASE)]), table, str(tmp / "store"), n_buckets=4,
        epoch=-1,
    )
    out, prof = str(tmp / "out"), str(tmp / "profile")
    fn = _bucketed_gate(table, out, "text", "doc_id", profile_path=prof)
    return fn, _text_batch(spark), [out, prof], [table]


def _minhash(spark, tmp):
    table = "epoch_gates_mh_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    build_minhash_band_store(
        _docs(spark, [(0, BASE)]), table, str(tmp / "store"), n_buckets=4,
        epoch=-1,
    )
    out = str(tmp / "out")
    fn = _minhash_gate(table, out, "text", "doc_id", 0.7, 5, 16, 4, 4)
    return fn, _text_batch(spark), [out], [table]


def _simhash(spark, tmp):
    table = "epoch_gates_sh_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    build_simhash_band_store(
        _docs(spark, [(0, BASE)]), table, str(tmp / "store"), n_buckets=4,
        epoch=-1,
    )
    out = str(tmp / "out")
    fn = _simhash_gate(table, out, "text", "doc_id", 32, 3)
    return fn, _text_batch(spark), [out], [table]


def _sft_gate(spark, tmp):
    out = str(tmp / "out")
    fn = partial(
        _sft_gate_epoch, out_path=out, json_col="conversation",
        id_col="conv_id",
    )
    return fn, _convs(spark), [out], []


def _sft_pack(spark, tmp):
    bins, spans = str(tmp / "bins"), str(tmp / "spans")
    fn = partial(
        _sft_pack_epoch, bins_path=bins, spans_path=spans, seq_len=64,
        json_col="conversation", id_col="conv_id", bucket_size=100_000,
    )
    return fn, _convs(spark), [bins, spans], []


def _nb(spark, tmp):
    train = spark.createDataFrame(
        [(i, t, 1) for i, t in enumerate(GOOD)]
        + [(100 + i, t, 0) for i, t in enumerate(BAD)],
        "doc_id long, text string, label int",
    )
    weights, info = train_nb_quality(train, n_features=1 << 12)
    out = str(tmp / "out")
    fn = partial(_nb_gate_batch, weights=weights, info=info, out_path=out)
    batch = _docs(spark, [(1, GOOD[0]), (2, BAD[0])])
    return fn, batch, [out], []


def _profile(spark, tmp):
    out = str(tmp / "out")
    fn = partial(_profile_epoch, out_path=out, text_col="text", id_col="doc_id")
    return fn, _text_batch(spark), [out], []


GATES = {
    "exact": _exact,
    "near_dup": _near_dup,
    "bucketed": _bucketed,
    "minhash": _minhash,
    "simhash": _simhash,
    "sft_gate": _sft_gate,
    "sft_pack": _sft_pack,
    "nb": _nb,
    "profile": _profile,
}


def _snapshot(spark, path):
    return sorted(
        str(r.asDict(recursive=True)) for r in spark.read.parquet(path).collect()
    )


@pytest.mark.parametrize("gate", list(GATES))
def test_epoch_replay_is_idempotent_and_keeps_session_conf(
    spark, tmp_path, default_overwrite_mode, gate
):
    epoch_fn, batch, outs, tables = GATES[gate](spark, tmp_path)
    try:
        before = _conf(spark)
        epoch_fn(batch, EPOCH)
        once = [_snapshot(spark, p) for p in outs]
        epoch_fn(batch, EPOCH)  # at-least-once replay of the same epoch
        assert _conf(spark) == before
        assert [_snapshot(spark, p) for p in outs] == once
        assert all(once), "every output holds rows"
        for p in outs:
            epochs = spark.read.parquet(p).select("__epoch").distinct().collect()
            assert {r[0] for r in epochs} == {EPOCH}
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.parametrize("gate", ["exact", "bucketed", "minhash", "simhash"])
def test_store_gate_epochs_release_their_pins(spark, tmp_path, gate):
    """A store-gate epoch releases everything it persisted before it
    returns: after three epochs the session holds no persistent RDD it
    did not hold before (an unreleased pin adds one or more per epoch
    until a JVM GC happens to collect it).  Ids, not counts: the same
    GC may meanwhile collect pins that earlier tests left behind."""
    jsc = spark.sparkContext._jsc
    epoch_fn, batch, _, tables = GATES[gate](spark, tmp_path)
    try:
        before = set(jsc.getPersistentRDDs().keys())
        for epoch in (1, 2, 3):
            epoch_fn(batch, epoch)
        assert set(jsc.getPersistentRDDs().keys()) - before == set()
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_write_partition_replaces_only_its_partition(
    spark, tmp_path, default_overwrite_mode
):
    path = str(tmp_path / "parts")
    before = _conf(spark)
    write_partition(spark.range(3), path, 1)
    write_partition(spark.range(5), path, 2)
    write_partition(spark.range(2), path, 1)  # replay with new rows
    assert _conf(spark) == before
    got = spark.read.parquet(path).groupBy("__epoch").count().collect()
    assert {r["__epoch"]: r["count"] for r in got} == {1: 2, 2: 5}


def test_store_builders_keep_session_conf(spark, tmp_path, default_overwrite_mode):
    store = str(tmp_path / "store")
    before = _conf(spark)
    build_fingerprint_store(_docs(spark, [(0, BASE)]), store)
    assert _conf(spark) == before
    survivors = incremental_exact_dedup(_text_batch(spark), store, batch_id=1)
    assert {r.doc_id for r in survivors.collect()} == {11}
    assert _conf(spark) == before


def test_write_epoch_shards_overwrites_after_store_build(
    spark, tmp_path, default_overwrite_mode
):
    """A caller's full overwrite after a store build must still replace
    the whole directory: 8 shards, then a 4-shard rewrite of the same
    200 docs, reads back as 4 shards / 200 rows."""
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
    )
    path = str(tmp_path / "shards")
    write_epoch_shards(docs, path, n_shards=8)
    build_fingerprint_store(docs, str(tmp_path / "store"))
    manifest = write_epoch_shards(docs, path, n_shards=4).collect()
    assert len(manifest) == 4
    assert sum(r.n_rows for r in manifest) == 200


@pytest.mark.parametrize(
    "start",
    [
        streaming_incremental_dedup_bucketed,
        streaming_incremental_minhash_dedup,
        streaming_incremental_simhash_dedup,
    ],
    ids=["bucketed", "minhash", "simhash"],
)
def test_store_gate_rejects_flat_profile_path(spark, tmp_path, start):
    """The store gates write ``__epoch`` partitions to ``profile_path``
    too, so a flat-``part-*`` profile directory fails at stream start
    exactly like a flat ``out_path``."""
    prof = str(tmp_path / "profile")
    spark.createDataFrame([(1, "x")], "doc_id long, text string").write.parquet(prof)
    stream = spark.readStream.format("rate").load().select(
        F.col("value").alias("doc_id"), F.col("value").cast("string").alias("text")
    )
    with pytest.raises(ValueError, match="flat-append"):
        start(
            stream, "epoch_gates_unused_store", str(tmp_path / "out"),
            str(tmp_path / "ck"), profile_path=prof,
        ).stop()
