"""Measured cost of the r13b operators at growing corpus size.

Times cross_corpus_decontaminate (map-only over the big side, broadcast
eval bands), epoch_shuffle/write_epoch_shards (one hash shuffle, no
range exchange), and the NB hashed-ngram quality classifier (train =
one feature-count shuffle; apply = broadcast join + per-doc sum) on the
English-shaped curation corpora at 10^4..10^6 docs.  Claims under
test: decontamination recall is 1.0 on planted exact copies and wall
grows with scan bytes (the eval side is constant); the epoch shuffle's
shards stay balanced; classifier throughput is feature-stream bound.

Writes R13B_OPS_SCALE.json.
Run:  python bench_r13b_ops_scale.py
      SPARK_GRAFT_R13B_SIZES=10000,100000 python bench_r13b_ops_scale.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from bench_curation_scale import gen_corpus
from data_stream_flink_user_address_spark.functions.classifier import (
    apply_nb_quality,
    train_nb_quality,
)
from data_stream_flink_user_address_spark.functions.dedup import (
    cross_corpus_decontaminate,
)
from data_stream_flink_user_address_spark.functions.ordering import (
    write_epoch_shards,
)
from data_stream_flink_user_address_spark.functions.packing import (
    histogram_pack,
    pack_bins_text,
)
from data_stream_flink_user_address_spark.session import get_spark

SIZES = [
    int(s)
    for s in os.environ.get(
        "SPARK_GRAFT_R13B_SIZES", "10000,100000,1000000"
    ).split(",")
]
N_EVAL = 200


def main() -> None:
    spark = get_spark("bench-r13b-ops")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"n_eval": N_EVAL, "sizes": []}
    for n in SIZES:
        docs = spark.read.parquet(gen_corpus(spark, n))
        row = {"n_docs": n}

        # --- cross-corpus decontamination: every (n // N_EVAL)-th train
        # doc is copied verbatim into the eval set -> planted recall 1.0
        step = max(n // N_EVAL, 1)
        ev = (
            docs.filter(F.col("doc_id") % step == 0)
            .limit(N_EVAL)
            .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
        )
        planted = ev.count()  # materialize eval outside the timed region
        t0 = time.time()
        clean, pairs = cross_corpus_decontaminate(
            docs, ev, min_agreement=0.8
        )
        n_clean = clean.count()
        n_pairs = pairs.count()
        dt = time.time() - t0
        removed = n - n_clean
        row["decontaminate"] = {
            "planted_eval": planted,
            "removed": removed,
            "candidate_pairs": n_pairs,
            # planted copies are exact -> every eval doc MUST hit its
            # train source (removed can exceed planted: DUP_EVERY twins
            # of a planted doc fall too)
            "planted_recall": round(
                pairs.select("eval_doc_id").distinct().count() / max(planted, 1), 3
            ),
            "wall_s": round(dt, 2),
            "docs_per_sec": round(n / dt, 1),
        }

        # --- epoch shuffle + sharded write
        shard_path = f"/tmp/r13b_shards_n{n}"
        shutil.rmtree(shard_path, ignore_errors=True)
        t0 = time.time()
        manifest = write_epoch_shards(
            docs, shard_path, n_shards=32, seed=7, epoch=1
        ).collect()
        dt = time.time() - t0
        sizes = [r.n_rows for r in manifest]
        row["epoch_shuffle"] = {
            "n_shards": len(sizes),
            "rows_written": sum(sizes),
            "shard_skew_max_over_mean": round(max(sizes) / (sum(sizes) / len(sizes)), 3),
            "wall_s": round(dt, 2),
            "docs_per_sec": round(n / dt, 1),
        }
        shutil.rmtree(shard_path, ignore_errors=True)

        # --- NB classifier: label half the corpus positive (vocab is
        # shared, so this measures throughput, not accuracy)
        labeled = docs.withColumn("label", (F.col("doc_id") % 2).cast("int"))
        for hash_fn in ("md5", "xxhash"):
            t0 = time.time()
            weights, info = train_nb_quality(
                labeled, n_features=1 << 18, hash_fn=hash_fn
            )
            n_weights = weights.count()
            t_train = time.time() - t0
            t0 = time.time()
            scored = apply_nb_quality(docs, weights, info)
            scored.agg(F.sum("nb_score")).collect()
            t_apply = time.time() - t0
            key = "nb_classifier" if hash_fn == "md5" else "nb_classifier_xxhash"
            row[key] = {
                "n_weight_rows": n_weights,
                "train_wall_s": round(t_train, 2),
                "train_docs_per_sec": round(n / t_train, 1),
                "apply_wall_s": round(t_apply, 2),
                "apply_docs_per_sec": round(n / t_apply, 1),
            }
            if hash_fn == "md5":
                t0 = time.time()
                scored = apply_nb_quality(docs, weights, info, method="gather")
                scored.agg(F.sum("nb_score")).collect()
                t_gather = time.time() - t0
                row[key]["apply_gather_wall_s"] = round(t_gather, 2)
                row[key]["apply_gather_docs_per_sec"] = round(n / t_gather, 1)

        # --- min_df prune A/B (VERDICT r13 ask #4): the prune shrinks
        # the weight TABLE only (denominators unchanged).  Expected
        # regime split on this corpus: at 1e4 docs most hash buckets
        # are singletons (big prune); by 1e6 the 2^18 buckets saturate
        # (mean occupancy ~500) and the prune removes ~nothing -- the
        # table is V-capped either way, which is the honest negative
        # result for uniform synthetic text (real Zipf text keeps a
        # singleton tail at any V).
        t0 = time.time()
        w_pruned, info_p = train_nb_quality(
            labeled, n_features=1 << 18, hash_fn="xxhash", min_df=2
        )
        n_pruned = w_pruned.count()
        t_train_p = time.time() - t0
        t0 = time.time()
        apply_nb_quality(docs, w_pruned, info_p).agg(
            F.sum("nb_score")
        ).collect()
        t_apply_p = time.time() - t0
        row["nb_classifier_min_df2"] = {
            "n_weight_rows": n_pruned,
            "rows_vs_unpruned": round(
                n_pruned / max(row["nb_classifier_xxhash"]["n_weight_rows"], 1), 4
            ),
            "train_wall_s": round(t_train_p, 2),
            "apply_wall_s": round(t_apply_p, 2),
        }

        # --- SPFHP histogram packing: vary doc lengths 1..50 row-locally
        # (the curation corpus is fixed-width; a one-bar histogram would
        # trivialize the solve)
        varied = docs.select(
            "doc_id",
            F.concat_ws(
                " ",
                F.slice(
                    F.split(F.col("text"), " "),
                    1,
                    (F.pmod(F.xxhash64("doc_id"), F.lit(50)) + 1).cast("int"),
                ),
            ).alias("text"),
        )
        t0 = time.time()
        assigned, stats = histogram_pack(varied, seq_len=512)
        n_assigned = assigned.count()
        dt = time.time() - t0
        assert n_assigned == stats["n_docs"]
        row["histogram_pack"] = {
            "n_bins": stats["n_bins"],
            "n_patterns": stats["n_patterns"],
            "padding_frac": stats["padding_frac"],
            "wall_s": round(dt, 2),
            "docs_per_sec": round(n / dt, 1),
        }
        # materializer alone: pin the assignment so its plan is not
        # re-run inside the timed region
        pinned = assigned.localCheckpoint()
        t0 = time.time()
        pack_bins_text(varied, pinned).agg(F.sum("n_tokens")).collect()
        dt = time.time() - t0
        row["histogram_pack"]["materialize_wall_s"] = round(dt, 2)
        row["histogram_pack"]["materialize_docs_per_sec"] = round(n / dt, 1)

        # --- compression-ratio signal (stdlib zlib via Arrow batches)
        from data_stream_flink_user_address_spark.functions.curation import (
            compression_ratio,
        )

        t0 = time.time()
        cr = compression_ratio(docs)
        cr.agg(F.avg("compression_ratio")).collect()
        dt = time.time() - t0
        row["compression_ratio"] = {
            "wall_s": round(dt, 2),
            "docs_per_sec": round(n / dt, 1),
        }

        # --- unicode normalization (Arrow-batched) + heavy-hitter terms
        from data_stream_flink_user_address_spark.functions.profile import (
            top_terms,
        )
        from data_stream_flink_user_address_spark.functions.text import (
            normalize_unicode,
        )

        t0 = time.time()
        normalize_unicode(docs).agg(F.sum("n_changed")).collect()
        dt = time.time() - t0
        row["normalize_unicode"] = {
            "wall_s": round(dt, 2),
            "docs_per_sec": round(n / dt, 1),
        }
        t0 = time.time()
        n_terms = top_terms(docs, k=100).count()
        dt = time.time() - t0
        row["top_terms"] = {
            "k_returned": n_terms,
            "wall_s": round(dt, 2),
            "docs_per_sec": round(n / dt, 1),
        }

        # --- leakage-guarded split with a 10% holdout (VERDICT r13 ask
        # #3's measurement): the size gate picks the side from the
        # holdout's row count (broadcast at these sizes).
        from data_stream_flink_user_address_spark.functions.sampling import (
            leakage_free_split,
        )

        split_cfg = {"train": 0.9, "heldout": 0.1}
        t0 = time.time()
        out_b, _ = leakage_free_split(
            docs, split_cfg, min_agreement=0.8
        )
        n_b = out_b.count()
        dt_b = time.time() - t0
        row["leakage_split_10pct"] = {
            "rows_out": n_b,
            "train_dropped": n - n_b,
            "broadcast_wall_s": round(dt_b, 2),
        }

        out["sizes"].append(row)
        print(json.dumps(row))

    with open("R13B_OPS_SCALE.json", "w") as f:
        json.dump(out, f, indent=1)
    print("wrote R13B_OPS_SCALE.json")


if __name__ == "__main__":
    main()
