"""Wall-time + convergence-round bench for the DISTRIBUTED branch of
``dedup_clusters`` (min-label propagation with pointer jumping).

The driver union-find branch handles every graph the sf ladder
produces; the distributed branch is the >5M-edge scale path and through
round 5 had correctness tests but no timing and no pinned round count.
This bench runs it (``dedup.DRIVER_MAX_EDGES = 0`` for the timed leg)
on three shapes:

- ``chain_1024``: a pure chain of diameter 1024 -- the adversarial case
  for plain label propagation (1024 rounds); pointer jumping must close
  it in <= log2(1024)+2 = 12 rounds.
- ``random_100k``: 100k xxhash-random edges over 150k nodes (mean
  degree ~1.3, the near-dup-graph regime: many small components plus an
  emerging giant) -- the realistic shape.
- ``random_1e7``: the same shape at 1e7 edges / 1.5e7 nodes -- ABOVE
  the 5M-edge ``DRIVER_MAX_EDGES``, i.e. the only regime the distributed
  branch actually serves; every row also records the converged flag.

For each: rounds, wall seconds, nodes, edges, and the driver-branch
wall seconds on the same graph for comparison (the hybrid default's
justification).

    python bench_cc.py                  # all three graphs, writes CC_BENCH.json
    python bench_cc.py chain_1024       # only the named graphs, rows to stdout

A run of only some graphs prints its rows and leaves CC_BENCH.json,
the record of the whole ladder, as it is.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from data_stream_flink_user_address_spark.functions import dedup
from data_stream_flink_user_address_spark.functions.dedup import dedup_clusters
from data_stream_flink_user_address_spark.session import get_spark


def chain(spark, diameter: int):
    return spark.range(diameter).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )


def random_graph(spark, n_edges: int, n_nodes: int):
    return spark.range(n_edges).select(
        F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("doc_a"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes)).alias("doc_b"),
    ).filter(F.col("doc_a") != F.col("doc_b"))


def run(name: str, pairs, compare_driver: bool = True,
        max_iter: int = 20) -> dict:
    pairs = pairs.localCheckpoint()  # freeze inputs so both branches see the same graph
    n_edges = pairs.count()
    stats: dict = {}
    driver_max_edges = dedup.DRIVER_MAX_EDGES
    dedup.DRIVER_MAX_EDGES = 0  # the distributed branch is what is timed
    try:
        t0 = time.perf_counter()
        out = dedup_clusters(pairs, stats=stats, max_iter=max_iter)
        n_nodes = out.count()
        dist_sec = round(time.perf_counter() - t0, 3)
    finally:
        dedup.DRIVER_MAX_EDGES = driver_max_edges
    entry = {
        "graph": name,
        "edges": n_edges,
        "nodes": n_nodes,
        "distributed": {
            "rounds": stats.get("rounds"),
            "converged": stats.get("converged"),
            "sec": dist_sec,
        },
    }
    if compare_driver:
        t0 = time.perf_counter()
        dedup_clusters(pairs).count()
        entry["driver_union_find"] = {
            "sec": round(time.perf_counter() - t0, 3)
        }
    print(json.dumps(entry), flush=True)
    return entry


GRAPHS = {
    "chain_1024": lambda spark: run("chain_1024", chain(spark, 1024)),
    # near-critical random graphs grow long tendrils: the giant
    # component's effective diameter needs more than 20 label
    # rounds even with pointer jumping -- cap raised so the rows
    # record CONVERGED numbers (r14's rounds=20 was ambiguous;
    # the stats flag now makes truncation explicit)
    "random_100k": lambda spark: run(
        "random_100k", random_graph(spark, 100_000, 150_000), max_iter=60
    ),
    # the regime the distributed branch exists for: 1e7 edges,
    # 2x DRIVER_MAX_EDGES -- driver comparison skipped (the
    # hybrid would never route this to the driver)
    "random_1e7": lambda spark: run(
        "random_1e7", random_graph(spark, 10_000_000, 15_000_000),
        compare_driver=False, max_iter=60,
    ),
}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("graphs", nargs="*", metavar="GRAPH",
                   help=f"graphs to run, of {', '.join(GRAPHS)} (default: all)")
    names = p.parse_args().graphs or list(GRAPHS)
    unknown = [n for n in names if n not in GRAPHS]
    if unknown:
        p.error(f"unknown graph(s): {', '.join(unknown)}")
    spark = get_spark("bench_cc")
    results = [GRAPHS[n](spark) for n in names]
    if sorted(names) != sorted(GRAPHS):
        return
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "CC_BENCH.json"), "w"
    ) as f:
        json.dump({"cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())), "graphs": results}, f, indent=2)
    print(json.dumps({"wrote": "CC_BENCH.json"}))


if __name__ == "__main__":
    main()
