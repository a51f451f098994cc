"""Measured top-k search cost at growing n: brute force vs PQ vs IVF-PQ.

The PQ family's scale claim -- "candidate generation on 8-byte codes
beats dotting full float vectors once n is large, and IVF-PQ's probe
pruning beats both" -- measured rather than asserted, the ANN_SCALE.json
methodology applied to search instead of near-dup.

Per corpus size n (deterministic synthetic corpus, dim 64, same
generator expressions as bench_ann_scale):

- one-time BUILD (timed once): persist the PQ codes table and the
  IVF-PQ ``(vec_id, cid, codes)`` inverted index via
  ``build_ivfpq_index`` with CAPPED sample-trained centroids
  (``train_ivf_centroids(k_cent=K_CENT)``) -- O(n * K_CENT), linear in
  n, where the previous sqrt(n)-stride derivation measured O(n^1.5)
  (build_index_s 9.4 -> 66 -> 335 at 1e4/1e5/3e5);
- QUERY (median of 3): 10 queries x top-10 via
  ``brute_force_topk`` (full float scan),
  ``pq_topk(corpus_codes=...)`` (ADC over the persisted codes, exact
  rescore), and ``ivfpq_topk(corpus_index=...)`` (ADC over probed
  cells only).

All three run the identical rescore, so query-time differences isolate
the candidate-generation scan.  Writes TOPK_SCALE.json.

Run:  python bench_topk_scale.py        # default ladder
      SPARK_GRAFT_TOPK_SIZES=10000,100000 python bench_topk_scale.py
"""

from __future__ import annotations

import json

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from data_stream_flink_user_address_spark.functions.pq import (
    build_ivfpq_index,
    ivfpq_topk,
    pq_codebooks,
    pq_encode,
    pq_topk,
)
from data_stream_flink_user_address_spark.functions.similarity import (
    brute_force_topk,
    train_ivf_centroids,
)
from data_stream_flink_user_address_spark.session import get_spark

DIM = 64
K = 10
M = 8
K_SUB = 32
PQ_STRIDE = 15          # codebook seeds: first 480 ids at every n
EXPAND = 16
NPROBE = 8
K_CENT = 256            # fixed coarse-list count: the linear-build knob
DATA_ROOT = "/tmp/topk_scale_data"
SIZES = [
    int(s)
    for s in os.environ.get(
        "SPARK_GRAFT_TOPK_SIZES", "10000,100000,300000,1000000"
    ).split(",")
]


def gen_corpus(spark, n: int) -> str:
    path = os.path.join(DATA_ROOT, f"n{n}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        cols = [
            (
                (F.xxhash64(F.col("id"), F.lit(i)) % 2_000_001 - 1_000_000)
                / 1_000_000.0
            ).cast("float")
            for i in range(DIM)
        ]
        (
            spark.range(n)
            .select(F.col("id").alias("vec_id"), F.array(*cols).alias("embedding"))
            .write.mode("overwrite")
            .parquet(path)
        )
    return path


def timed(fn, n_runs: int = 3) -> list[float]:
    out = []
    for _ in range(n_runs):
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        out.append(round(time.perf_counter() - t0, 3))
    return out


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("bench_topk_scale")
    results = []
    for n in SIZES:
        emb = spark.read.parquet(gen_corpus(spark, n))
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        cb = pq_codebooks(emb, M, K_SUB, PQ_STRIDE, DIM)

        t0 = time.perf_counter()
        codes_path = os.path.join(DATA_ROOT, f"n{n}_codes")
        pq_encode(emb, cb, M, DIM).write.mode("overwrite").parquet(codes_path)
        build_codes_s = round(time.perf_counter() - t0, 2)

        # build = centroid training + assignment + encode join, all
        # timed: the full cost of standing up the persisted index
        t0 = time.perf_counter()
        index_path = os.path.join(DATA_ROOT, f"n{n}_ivfpq")
        cent_path = os.path.join(DATA_ROOT, f"n{n}_cent")
        train_ivf_centroids(
            emb, iters=1, centroid_stride=31, dim=DIM, k_cent=K_CENT,
            train_limit=100 * K_CENT,
        ).write.mode("overwrite").parquet(cent_path)
        cent = spark.read.parquet(cent_path)
        (
            # reuse the codes table persisted above (same codebooks):
            # the index build pays assignment + join only, not a second
            # full-corpus encode
            build_ivfpq_index(
                emb, cent, cb, M, DIM,
                corpus_codes=spark.read.parquet(codes_path),
            )
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(index_path)
        )
        build_index_s = round(time.perf_counter() - t0, 2)

        codes = spark.read.parquet(codes_path)
        index = spark.read.parquet(index_path).withColumn(
            "cid", F.col("cid").cast("long")
        )

        brute = timed(lambda: brute_force_topk(emb, q, k=K, dim=DIM))
        pq = timed(
            lambda: pq_topk(
                emb, q, k=K, expand=EXPAND, m=M, k_sub=K_SUB,
                stride=PQ_STRIDE, dim=DIM, corpus_codes=codes, codebooks=cb,
            )
        )
        ivfpq = timed(
            lambda: ivfpq_topk(
                emb, q, k=K, expand=EXPAND, nprobe=NPROBE,
                m=M, k_sub=K_SUB, stride=PQ_STRIDE, dim=DIM,
                corpus_index=index, codebooks=cb, centroids=cent,
            )
        )
        entry = {
            "n": n,
            "k_cent": K_CENT,
            "build_codes_s": build_codes_s,
            "build_index_s": build_index_s,
            "brute": {"runs": brute, "median": statistics.median(brute)},
            "pq": {"runs": pq, "median": statistics.median(pq)},
            "ivfpq": {"runs": ivfpq, "median": statistics.median(ivfpq)},
        }
        results.append(entry)
        print(json.dumps(entry), flush=True)
    out = {
        "dim": DIM,
        "k": K,
        "queries": 10,
        "m": M,
        "k_sub": K_SUB,
        "expand": EXPAND,
        "nprobe": NPROBE,
        "k_cent": K_CENT,
        "sizes": results,
    }
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "TOPK_SCALE.json"),
        "w",
    ) as f:
        json.dump(out, f, indent=1)
    print("wrote TOPK_SCALE.json")


if __name__ == "__main__":
    main()
