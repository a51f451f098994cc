"""Operator-level pins for the degenerate-input guards.

The two r18 degenerate-corpus sweeps drove these semantics through the
registered queries; this file pins them at the OPERATOR level on
hand-built rows, so a refactor that drops a guard fails here with a
readable expectation instead of as a 94-pair sweep diff.

The load-bearing facts (all probe-verified):

* Spark 4 runs ANSI mode by default: an unguarded ``x / 0`` is a
  job-killing DIVIDE_BY_ZERO, not a NULL -- one blank document or zero
  embedding in 100 TB kills the whole stage.
* DuckDB yields NULL for every division by zero, so oracle parity
  forces an explicit convention at each site: cosine -> 0.0 (NORM_FLOOR
  floors the norms), per-doc ratios -> NULL (NULL-when-zero
  denominator), packers -> pre-filtered input.
* NORM_FLOOR must be 1e-150: per-factor 1e-300 floors UNDERFLOW to
  exact 0.0 when the two sides multiply in the cosine denominator.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Row, functions as F

from data_stream_flink_user_address_spark.functions.curation import (
    gopher_quality_flags,
)
from data_stream_flink_user_address_spark.functions.multimodal import (
    extract_media_meta,
)
from data_stream_flink_user_address_spark.functions.packing import histogram_pack
from data_stream_flink_user_address_spark.functions.similarity import (
    NORM_FLOOR,
    assign_to_centroids,
    brute_force_topk,
    cosine_sim_col,
)

DIM = 4


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_norm_floor_product_does_not_underflow():
    # the reason the floor is 1e-150: two floored norms multiply in the
    # denominator, and that product must stay a nonzero float64
    assert NORM_FLOOR * NORM_FLOOR > 0.0


def test_cosine_sim_col_zero_vectors_yield_zero(spark):
    df = spark.createDataFrame(
        [
            (1, [0.0] * DIM, [1.0, 0.0, 0.0, 0.0]),  # zero x healthy
            (2, [0.0] * DIM, [0.0] * DIM),  # zero x zero (underflow trap)
            (3, [1.0, 0.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0]),  # control
        ],
        "id long, a array<float>, b array<float>",
    )
    got = {
        r["id"]: r["c"]
        for r in df.select(
            "id", cosine_sim_col(F.col("a"), F.col("b")).alias("c")
        ).collect()
    }
    assert got[1] == 0.0
    assert got[2] == 0.0
    assert got[3] == pytest.approx(1.0)


def test_brute_force_topk_tolerates_zero_norm_sides(spark):
    corpus = _emb(
        spark,
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0] * DIM), (3, [-1.0, 0.0, 0.0, 0.0])],
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0]), (11, [0.0] * DIM)],
        "query_id long, query_vec array<float>",
    )
    rows = brute_force_topk(corpus, queries, k=3, dim=DIM).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    # zero-norm corpus vector scores 0.0 -- ABOVE the negative cosine,
    # below the positive one; the zero-norm query scores 0.0 everywhere
    # and ranks purely by the vec_id tiebreak
    q10 = sorted(by_q[10], key=lambda r: r["rank"])
    assert [r["vec_id"] for r in q10] == [1, 2, 3]
    assert [r["cosine"] for r in q10] == [1.0, 0.0, -1.0]
    q11 = sorted(by_q[11], key=lambda r: r["rank"])
    assert [r["vec_id"] for r in q11] == [1, 2, 3]
    assert {r["cosine"] for r in q11} == {0.0}


def test_assign_to_centroids_zero_vector_zero_centroid(spark):
    # a zero centroid CAN arise (a cluster of only zero vectors); a zero
    # vector against it is the 1e-300**2 underflow trap -- assignment
    # must complete and tie-break to the smaller cid
    emb = _emb(spark, [(1, [0.0] * DIM), (2, [1.0, 0.0, 0.0, 0.0])])
    cents = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [1.0, 0.0, 0.0, 0.0])],
        "cid int, centroid array<double>",
    )
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in assign_to_centroids(emb, cents, dim=DIM).collect()
    }
    # zero vector: cosine 0.0 to every centroid -> smaller cid wins
    assert got[1] == 0
    assert got[2] == 1


def test_gopher_flags_null_and_blank_docs(spark):
    d = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text=None),
         Row(doc_id=3, text="   ")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_quality_flags(d).collect()}
    for i in (1, 3):  # zero tokens: ratios NULL, keep false, no raise
        assert rows[i]["n_tokens"] == 0
        assert rows[i]["mean_word_len"] is None
        assert rows[i]["alpha_frac"] is None
        assert rows[i]["keep"] is False
    assert rows[2]["n_tokens"] is None  # NULL text propagates
    assert rows[2]["keep"] is False


def test_extract_media_meta_null_payload_is_null_row(spark):
    media = spark.createDataFrame(
        [(1, "image", None), (2, "image", b"")],
        "media_id long, kind string, payload binary",
    )
    rows = {r["media_id"]: r for r in extract_media_meta(media).collect()}
    # absent payload: nothing to hash or decode
    assert rows[1]["n_bytes"] is None
    assert rows[1]["sha256"] is None
    assert rows[1]["width"] is None
    # present-but-empty payload: real empty-bytes metadata
    assert rows[2]["n_bytes"] == 0
    assert rows[2]["sha256"] == (
        "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
    )


def test_histogram_pack_precomputed_counts_match_default(spark):
    d = spark.createDataFrame(
        [(i, "w " * (1 + i % 7)) for i in range(40)], "doc_id long, text string"
    )
    a1, s1 = histogram_pack(d, seq_len=16, bucket_size=10)
    d2 = d.withColumn("__nt", F.size(F.split(F.trim("text"), r"\s+")))
    a2, s2 = histogram_pack(d2, seq_len=16, bucket_size=10, n_tokens_col="__nt")
    assert s1 == s2
    r1 = sorted(tuple(r) for r in a1.collect())
    r2 = sorted(tuple(r) for r in a2.collect())
    assert r1 == r2
    # dtype must not depend on the path (the assignment frame feeds
    # dtype-compared registered queries)
    assert dict(a1.dtypes) == dict(a2.dtypes)
