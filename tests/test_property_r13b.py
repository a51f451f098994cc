"""Property-based tests for the r13b operators: epoch shuffle
permutation/determinism, decontamination partition, NB label-flip
antisymmetry, profile vs a sequential reference."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_stream_flink_user_address_spark.functions.classifier import (
    train_nb_quality,
)
from data_stream_flink_user_address_spark.functions.dedup import (
    cross_corpus_decontaminate,
)
from data_stream_flink_user_address_spark.functions.ordering import epoch_shuffle
from data_stream_flink_user_address_spark.functions.profile import corpus_profile

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_WORD = st.text(alphabet="abcdefgh", min_size=1, max_size=6)
_DOC = st.lists(_WORD, min_size=0, max_size=12).map(" ".join)


@given(ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=60, unique=True),
       epoch=st.integers(0, 3))
@settings(**_SETTINGS)
def test_epoch_shuffle_is_deterministic_permutation(spark, ids, epoch):
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    a = epoch_shuffle(df, epoch=epoch, n_shards=4).collect()
    b = epoch_shuffle(df, epoch=epoch, n_shards=4).collect()
    assert a == b
    assert sorted(r.doc_id for r in a) == sorted(ids)
    assert all(r.shard == r.epoch_order % 4 for r in a)


@given(docs=st.lists(_DOC.filter(lambda t: len(t) >= 8), min_size=2, max_size=20,
                     unique=True),
       n_eval=st.integers(1, 3))
@settings(**_SETTINGS)
def test_decontaminate_partitions_train(spark, docs, n_eval):
    train = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    ev = spark.createDataFrame(
        [(1000 + i, docs[i]) for i in range(min(n_eval, len(docs)))],
        ["doc_id", "text"],
    )
    clean, pairs = cross_corpus_decontaminate(train, ev, n=4, min_agreement=0.9)
    kept = {r.doc_id for r in clean.collect()}
    dropped = {r.doc_id for r in pairs.collect()}
    assert kept | dropped == set(range(len(docs)))
    assert kept & dropped == set()
    # verbatim eval copies always fall
    assert all(i in dropped for i in range(min(n_eval, len(docs))))


@given(texts=st.lists(_DOC.filter(lambda t: t.strip()), min_size=2, max_size=10),
       flip_seed=st.integers(0, 5))
@settings(**_SETTINGS)
def test_nb_label_flip_negates_model(spark, texts, flip_seed):
    rows = [(i, t, (i + flip_seed) % 2) for i, t in enumerate(texts)]
    if len({r[2] for r in rows}) < 2:
        return
    df = spark.createDataFrame(rows, ["doc_id", "text", "label"])
    flipped = df.withColumn("label", 1 - F.col("label"))
    w1, i1 = train_nb_quality(df, n_features=1 << 10)
    w2, i2 = train_nb_quality(flipped, n_features=1 << 10)
    assert i2["prior"] == -i1["prior"]
    assert i2["default_weight"] == -i1["default_weight"]
    m1 = {r.feature: r.weight for r in w1.collect()}
    m2 = {r.feature: r.weight for r in w2.collect()}
    assert set(m1) == set(m2)
    assert all(abs(m1[f] + m2[f]) < 2e-9 for f in m1)


@given(lens=st.lists(st.integers(1, 16), min_size=1, max_size=40),
       seq_len=st.integers(16, 32))
@settings(**_SETTINGS)
def test_histogram_pack_invariants(spark, lens, seq_len):
    from data_stream_flink_user_address_spark.functions.packing import (
        _spfhp_solve,
        histogram_pack,
    )

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(lens)],
        ["doc_id", "text"],
    )
    out, stats = histogram_pack(df, seq_len=seq_len, bucket_size=7)
    rows = out.collect()
    assert len(rows) == len(lens)
    bins = {}
    for r in rows:
        bins.setdefault(r.bin_id, []).append(r.n_tokens)
    assert all(sum(v) <= seq_len for v in bins.values())
    hist = {}
    for n in lens:
        hist[n] = hist.get(n, 0) + 1
    want = []
    for pat, m in _spfhp_solve(hist, seq_len):
        want += [tuple(sorted(pat))] * m
    assert sorted(tuple(sorted(v)) for v in bins.values()) == sorted(want)


@given(docs=st.lists(_DOC, min_size=1, max_size=15))
@settings(**_SETTINGS)
def test_profile_matches_sequential_reference(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    got = corpus_profile(df).collect()[0]
    toks = [len(t.split()) if t.strip() else 0 for t in docs]
    assert got.n_docs == len(docs)
    assert got.total_tokens == sum(toks)
    assert got.total_chars == sum(len(t) for t in docs)
    assert got.min_tokens == min(toks)
    assert got.max_tokens == max(toks)
    assert got.n_empty_docs == sum(1 for t in toks if t == 0)


def test_importance_resample_exact_and_biased(spark):
    from pyspark.sql import functions as FF

    from data_stream_flink_user_address_spark.functions.sampling import (
        importance_resample,
    )

    n = 400
    df = spark.range(n).select(
        FF.col("id").alias("doc_id"),
        FF.when(FF.col("id") < 200, FF.lit(5.0)).otherwise(FF.lit(0.0)).alias(
            "log_weight"
        ),
    )
    out = importance_resample(df, fraction=0.25, exact=True)
    rows = out.collect()
    assert len(rows) == 100  # exactly ceil(0.25 * 400)
    heavy = sum(1 for r in rows if r.doc_id < 200)
    assert heavy >= 95  # e^5 odds ratio: essentially all picks are heavy
    # deterministic
    again = importance_resample(df, fraction=0.25, exact=True).collect()
    assert sorted(r.doc_id for r in rows) == sorted(r.doc_id for r in again)


def test_importance_resample_scale_path(spark):
    from pyspark.sql import functions as FF

    from data_stream_flink_user_address_spark.functions.sampling import (
        importance_resample,
    )

    df = spark.range(2000).select(
        FF.col("id").alias("doc_id"), FF.lit(0.0).alias("log_weight")
    )
    got = importance_resample(df, fraction=0.1).count()
    assert 150 <= got <= 260  # approx-percentile tolerance around 200


@given(texts=st.lists(st.text(min_size=0, max_size=30), min_size=1, max_size=12))
@settings(**_SETTINGS)
def test_normalize_unicode_idempotent(spark, texts):
    from data_stream_flink_user_address_spark.functions.text import (
        normalize_unicode,
    )

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    once = normalize_unicode(df)
    first = {r.doc_id: r.text for r in once.collect()}
    twice = normalize_unicode(once.drop("n_changed"))
    rows = twice.collect()
    assert all(r.n_changed == 0 for r in rows)  # NFKC is idempotent
    assert {r.doc_id: r.text for r in rows} == first


def test_leakage_free_split_drops_cross_split_twins(spark, monkeypatch):
    from data_stream_flink_user_address_spark.functions import gating
    from data_stream_flink_user_address_spark.functions.sampling import (
        hash_split,
        leakage_free_split,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while autumn leaves drift slowly across the quiet water surface"
    )
    import random as _random

    def _words(i):
        rng = _random.Random(1000 + i)
        return " ".join(
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(9))
            for _ in range(20)
        )

    rows = [(i, _words(i)) for i in range(40)]
    # find an id pair landing in different splits, then plant near-dups there
    probe = spark.createDataFrame(rows, ["doc_id", "text"])
    s = {r.doc_id: r.split for r in hash_split(
        probe, {"train": 0.7, "test": 0.3}, seed=3).collect()}
    train_id = next(i for i in s if s[i] == "train")
    test_id = next(i for i in s if s[i] == "test")
    rows = [
        (i, base if i == train_id
         else base.replace("autumn", "winter") if i == test_id
         else t)
        for i, t in rows
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out, leaks = leakage_free_split(
        df, {"train": 0.7, "test": 0.3}, seed=3, min_agreement=0.5,
        num_hashes=16, bands=8, rows_per_band=2,
    )
    got = {r.doc_id: r.split for r in out.collect()}
    assert train_id not in got          # leaking train twin dropped
    assert got[test_id] == "test"       # eval copy retained
    assert len(got) == 39
    assert {(r.doc_id, r.eval_doc_id) for r in leaks.collect()} == {
        (train_id, test_id)
    }
    # determinism
    out2, _ = leakage_free_split(
        df, {"train": 0.7, "test": 0.3}, seed=3, min_agreement=0.5,
        num_hashes=16, bands=8, rows_per_band=2,
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))
    # the size-gated shuffle fallback computes IDENTICAL splits/drops
    monkeypatch.setattr(gating, "BROADCAST_MAX_ROWS", 0)
    out3, leaks3 = leakage_free_split(
        df, {"train": 0.7, "test": 0.3}, seed=3, min_agreement=0.5,
        num_hashes=16, bands=8, rows_per_band=2,
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out3.collect()))
    assert {(r.doc_id, r.eval_doc_id) for r in leaks3.collect()} == {
        (train_id, test_id)
    }


def test_upsample_exact_copies_and_determinism(spark):
    from data_stream_flink_user_address_spark.functions.sampling import (
        hash_bucket,
        upsample,
    )

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 300, F.lit(2.5))
        .when(F.col("id") < 600, F.lit(1.0))
        .when(F.col("id") < 900, F.lit(0.4))
        .otherwise(F.lit(0.0))
        .alias("factor"),
    )
    out = upsample(df, "factor")
    rows = out.groupBy("doc_id").count().collect()
    per = {r.doc_id: r["count"] for r in rows}
    # factor 2.5 -> 2 or 3 copies; 1.0 -> exactly 1; 0.4 -> 0/1; 0 -> gone
    assert all(per[i] in (2, 3) for i in per if i < 300)
    assert all(per[i] == 1 for i in per if 300 <= i < 600)
    assert all(per[i] == 1 for i in per if 600 <= i < 900)  # survivors only
    assert all(i < 900 for i in per)
    # expectation: mean copies within sampling noise of the factor
    n_25 = sum(per[i] for i in per if i < 300)
    assert 0.9 * 2.5 * 300 <= n_25 <= 1.1 * 2.5 * 300
    n_04 = sum(1 for i in per if 600 <= i < 900)
    assert 0.8 * 0.4 * 300 <= n_04 <= 1.2 * 0.4 * 300
    # copy indices are dense 0..n-1
    idx = [r.copy_idx for r in out.filter(F.col("doc_id") == 0).collect()]
    assert sorted(idx) == list(range(per[0]))
    # deterministic
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, upsample(df, "factor").collect())
    )
    # zero-shuffle plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
