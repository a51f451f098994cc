"""Continuous-crawl NEAR-dup admission demo: a document stream gated by
MinHash signature agreement against a persisted band store, with a
mid-run kill/restart, a streaming-equals-batch convergence check, and a
closing compaction pass.

Shape (functions/dedup.py:streaming_incremental_minhash_dedup): each
micro-batch computes map-only signatures, joins its band rows against
the band_key-bucketed catalog store (zero store-side exchange), drops
docs whose signature agrees >= threshold with any stored one, resolves
within-batch near-dups on the store-novel remainder, then appends the
survivors' band rows -- so later epochs (and later QUERIES, after a
crash) gate against everything admitted so far.  Sub-shingle docs pass
through ungated with empty signatures.

The demo:
1. seeds the band store with the sf corpus's even-id docs,
2. streams two staged batches (novel odds + exact dups of the seed +
   near-dups made by appending a token to earlier survivors),
3. kills the query, restarts with the same checkpoint + store, feeds a
   third batch whose near-dups target BATCH-2 survivors -- history must
   come from the store, not from streaming state,
4. replays the same three batches through the BATCH operator against a
   fresh store and asserts the admitted sets are identical (one code
   path, two execution modes),
5. compacts the append-only store.

Run: ``python examples/run_continuous_crawl_neardup.py [sf_dir]``
(default sf_dir: /root/testdata/sf0.01; work dir is a fresh tmpdir)
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_stream_flink_user_address_spark.functions.dedup import (
    STORE_FORMAT_VERSION,
    band_rows,
    build_minhash_band_store,
    compact_minhash_band_store,
    incremental_minhash_dedup,
    streaming_incremental_minhash_dedup,
)
from data_stream_flink_user_address_spark.session import get_spark
from data_stream_flink_user_address_spark.sources.tables import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    work = tempfile.mkdtemp(prefix="crawl_neardup_")
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    ck = os.path.join(work, "ck")
    os.makedirs(src)

    spark = get_spark("continuous-crawl-neardup")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))

    table = "crawl_neardup_mh_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    build_minhash_band_store(
        even, table, os.path.join(work, "store"), n_buckets=n_buckets,
        epoch=-1,
    )
    spark.catalog.refreshTable(table)
    n_seed = spark.table(table).select("doc_id").distinct().count()
    print(f"seeded band store:        {n_seed:6d} docs")

    # staged batches; near-dups append one token to an earlier doc's text
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    near = lambda df, off: df.select(  # noqa: E731
        (F.col("doc_id") + off).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended")).alias("text"),
    )
    batches = [
        # novel odds + near-dups of the SEED (even ids < 100)
        odd.filter(F.col("doc_id") < 200).unionByName(
            near(even.filter(F.col("doc_id") < 100), 10_000)
        ),
        # novel odds + exact dups of batch-1 survivors
        odd.filter(F.col("doc_id").between(201, 399)).unionByName(
            odd.filter(F.col("doc_id") < 100)
            .select((F.col("doc_id") + 20_000).alias("doc_id"), "text")
        ),
        # novel odds + near-dups of batch-2 survivors (restart gate)
        odd.filter(F.col("doc_id").between(401, 599)).unionByName(
            near(odd.filter(F.col("doc_id").between(201, 299)), 30_000)
        ),
    ]
    for i, b in enumerate(batches, start=1):
        b.coalesce(1).write.mode("overwrite").json(
            os.path.join(work, f"stage_b{i}")
        )

    def feed(i: int) -> None:
        stage = os.path.join(work, f"stage_b{i}")
        for j, f in enumerate(p for p in os.listdir(stage) if p.endswith(".json")):
            shutil.copy(
                os.path.join(stage, f), os.path.join(src, f"b{i}_{j}.json")
            )

    stream_of = lambda: spark.readStream.schema(  # noqa: E731
        "doc_id long, text string"
    ).json(src)

    # stream b1 + b2, then KILL; the composed funnel profile rides the
    # same query (profile_path), one raw-vs-admitted pair per epoch
    prof = os.path.join(work, "profile")
    q = streaming_incremental_minhash_dedup(
        stream_of(), table, out, ck, profile_path=prof
    )
    feed(1)
    q.processAllAvailable()
    feed(2)
    q.processAllAvailable()
    q.stop()
    admitted_12 = spark.read.parquet(out).count()
    print(f"admitted after b1+b2:     {admitted_12:6d} docs (query killed here)")

    # fresh query, same checkpoint + store: history must hold
    q2 = streaming_incremental_minhash_dedup(
        stream_of(), table, out, ck, profile_path=prof
    )
    feed(3)
    q2.processAllAvailable()
    q2.stop()
    streamed = {r.doc_id for r in spark.read.parquet(out).collect()}
    print(f"admitted after restart:   {len(streamed):6d} docs")
    for r in (
        spark.read.parquet(prof)
        .orderBy("__epoch", "stage_idx")
        .select("__epoch", "stage", "n_docs", "approx_dup_rate")
        .collect()
    ):
        print(f"  epoch {r['__epoch']} {r.stage:>8}: {r.n_docs:5d} docs "
              f"(dup rate {r.approx_dup_rate:.2f})")

    # streaming == batch: replay the same batches through the batch
    # operator against a fresh store (one code path, two modes)
    table2 = "crawl_neardup_mh2_t"
    spark.sql(f"DROP TABLE IF EXISTS {table2}")
    build_minhash_band_store(
        even, table2, os.path.join(work, "store2"), n_buckets=n_buckets,
        epoch=-1,
    )
    replayed: set[int] = set()
    for i, b in enumerate(batches):
        surv = incremental_minhash_dedup(b, table2).localCheckpoint()
        replayed |= {r.doc_id for r in surv.collect()}
        (
            band_rows(
                surv.filter(F.size("signature") > 0),
                "doc_id", 4, 4, keep_signature=True,
            )
            .withColumn("__epoch", F.lit(i))
            .withColumn("__fmt", F.lit(STORE_FORMAT_VERSION))
            .write.mode("append")
            .insertInto(table2)
        )
    ok = replayed == streamed
    print(f"batch replay:             {len(replayed):6d} docs -- "
          + ("CONVERGED" if ok else "MISMATCH"))
    assert ok, (len(streamed), len(replayed))

    # maintenance: compact the append-only band store
    before, after = compact_minhash_band_store(
        spark, table, f"{table}_c", os.path.join(work, "store_c")
    )
    print(f"compacted band store:     {before:6d} rows -> {after:6d}")
    for t in (table, f"{table}_c", table2):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
