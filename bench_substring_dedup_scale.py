"""Measured end-to-end substring dedup (mark AND cut) at growing n.

The two halves were measured separately (the span producer inside the
registered query at driver scale; remove_dup_spans only unit-tested);
this ladder runs the COMPOSITE the registered ``substring_dedup_cut``
query ships -- ``substring_dup_spans`` (k=8) -> ``remove_dup_spans`` --
on synthetic corpora up to 10^7 documents with a web-text duplication
profile, so the mark+cut wall is on record (VERDICT r16 ask #4).

Corpus: deterministic JVM-expression generation (no driver data, no
Python): each doc is 50 words drawn from a 2^61 id space by
xxhash64(doc, position) -- effectively unique, so the ONLY repeated
8-grams are planted (exact substring dedup is insensitive to
vocabulary size, only to exact repeats; a small vocabulary makes
grams of 7 boilerplate tokens + 1 random neighbor collide across
flagged docs and destroys the closed form -- measured: +18k tokens at
n=1e5 with a 4,096-word vocabulary) -- and every 10th doc carries the
SAME 12-token boilerplate passage at positions 21..32 (the
shared-template/footer regime substring dedup exists for: Lee et al.
2022).  Ground truth is closed-form: exactly n/10 docs flagged,
exactly 12 tokens cut from each, everything else byte-unchanged --
the ladder asserts it at every rung, so these are verified walls, not
just timings.

The size gate picks the span-side join at each n (flagged docs = n/10,
under the 2M-row gate up to n=1e7 -> spans broadcast, corpus never
shuffles).  The forced-side crossover legs recorded in
SUBSTRING_DEDUP_SCALE.json were measured before the forcing option was
removed; a re-run writes the file without them.

Writes SUBSTRING_DEDUP_SCALE.json:
  per n: mark+cut wall (median of 3), flagged-doc count, tokens
  removed, ground-truth check.

Run:  python bench_substring_dedup_scale.py
      SPARK_GRAFT_SUBSTRING_SIZES=100000,1000000 python bench_substring_dedup_scale.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from data_stream_flink_user_address_spark.functions.dedup import (
    remove_dup_spans,
    substring_dup_spans,
)
from data_stream_flink_user_address_spark.session import get_spark

WORDS_PER_DOC = 50
VOCAB = 2 ** 61
DUP_EVERY = 10      # doc i (i % 10 == 0) carries the boilerplate
BOILER_LEN = 12     # tokens, >= k so the passage is markable
BOILER_AT = 20      # 0-based word index where the passage starts
K = 8
DATA_ROOT = "/tmp/substring_dedup_scale"
SIZES = [
    int(s)
    for s in os.environ.get(
        "SPARK_GRAFT_SUBSTRING_SIZES", "100000,1000000,10000000"
    ).split(",")
]


def gen_corpus(spark, n: int) -> str:
    """Docs from pure expressions: word j of doc i is
    w<xxhash64(i, j) % 2^61>, except the planted boilerplate window."""
    path = os.path.join(DATA_ROOT, f"n{n}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        def word(j: int) -> F.Column:
            rand = F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(VOCAB))
                .cast("string"),
            )
            if BOILER_AT <= j < BOILER_AT + BOILER_LEN:
                return F.when(
                    F.col("id") % DUP_EVERY == 0, F.lit(f"boiler{j}")
                ).otherwise(rand)
            return rand

        (
            spark.range(n)
            .select(
                F.col("id").alias("doc_id"),
                F.concat_ws(
                    " ", *[word(j) for j in range(WORDS_PER_DOC)]
                ).alias("text"),
            )
            .write.mode("overwrite")
            .parquet(path)
        )
    return path


def run_mark_cut(spark, path: str):
    """One composite pass: mark -> cut -> full aggregate over the
    output (flagged count + tokens removed), returning
    (wall_s, n_flagged, tokens_removed)."""
    docs = spark.read.parquet(path)
    t0 = time.monotonic()
    spans = substring_dup_spans(docs, k=K)
    cut = remove_dup_spans(docs, spans)
    row = cut.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_tokens_removed") > 0).cast("long")).alias(
            "n_flagged"
        ),
        F.sum("n_tokens_removed").alias("removed"),
    ).collect()[0]
    wall = time.monotonic() - t0
    return wall, int(row["n_flagged"]), int(row["removed"]), int(row["n_docs"])


def main() -> None:
    spark = get_spark(app_name="bench-substring-dedup-scale")
    spark.sparkContext.setLogLevel("ERROR")
    out = {
        "words_per_doc": WORDS_PER_DOC,
        "vocab": VOCAB,
        "dup_every": DUP_EVERY,
        "boiler_len": BOILER_LEN,
        "k": K,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
        "sizes": [],
    }
    for n in SIZES:
        path = gen_corpus(spark, n)
        runs = []
        for _ in range(3):
            wall, n_flagged, removed, n_docs = run_mark_cut(spark, path)
            runs.append(round(wall, 3))
        want_flagged = n // DUP_EVERY
        ok = (
            n_docs == n
            and n_flagged == want_flagged
            and removed == want_flagged * BOILER_LEN
        )
        entry = {
            "n_docs": n,
            "mark_cut": {"runs": runs, "median": statistics.median(runs)},
            "n_flagged": n_flagged,
            "tokens_removed": removed,
            "ground_truth_ok": ok,
            "docs_per_sec": round(n / statistics.median(runs), 1),
        }
        out["sizes"].append(entry)
        print(json.dumps(entry))
        assert ok, entry
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "SUBSTRING_DEDUP_SCALE.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
