"""Interval join (keyed and bucketed paths agree) + streaming dedup."""

import json
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_stream_flink_user_address_spark.functions.dedup import streaming_dedup
from data_stream_flink_user_address_spark.operators.interval import interval_join


def _events(spark, n, seed):
    return (
        spark.range(n)
        .withColumn("k", (F.col("id") * seed % 5).cast("string"))
        .withColumn(
            "ts",
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000) + (F.col("id") * seed * 7_000_000) % 600_000_000
            ),
        )
        .select(F.col("id").alias("eid"), "k", "ts")
    )


def test_interval_join_bucketed_matches_naive(spark):
    left = _events(spark, 40, 3)
    right = _events(spark, 40, 11).select(
        F.col("eid").alias("rid"), F.col("k").alias("rk"), F.col("ts").alias("rts")
    )
    lo, hi = 5.0, 65.0
    naive = (
        left.crossJoin(right)
        .filter(
            (F.col("rts") >= F.col("ts") + F.make_interval(secs=F.lit(lo)))
            & (F.col("rts") <= F.col("ts") + F.make_interval(secs=F.lit(hi)))
        )
        .select("eid", "rid")
    )
    bucketed = interval_join(left, right, "ts", "rts", lo, hi, on=None).select(
        "eid", F.col("r_rid").alias("rid")
    )
    expected = sorted((r["eid"], r["rid"]) for r in naive.collect())
    got = sorted((r["eid"], r["rid"]) for r in bucketed.collect())
    assert got == expected and len(got) > 0


def test_interval_join_keyed(spark):
    left = _events(spark, 40, 3)
    right = _events(spark, 40, 11)
    lo, hi = 0.0, 120.0
    naive = (
        left.crossJoin(
            right.select(F.col("eid").alias("rid"), F.col("k").alias("rk"), F.col("ts").alias("rts"))
        )
        .filter(
            (F.col("k") == F.col("rk"))
            & (F.col("rts") >= F.col("ts"))
            & (F.col("rts") <= F.col("ts") + F.make_interval(secs=F.lit(hi)))
        )
        .select("eid", "rid")
    )
    keyed = interval_join(left, right, "ts", "ts", lo, hi, on="k").select(
        "eid", F.col("r_eid").alias("rid")
    )
    assert sorted((r["eid"], r["rid"]) for r in keyed.collect()) == sorted(
        (r["eid"], r["rid"]) for r in naive.collect()
    )


def test_streaming_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    name = f"dd_{uuid.uuid4().hex[:8]}"
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("ts", T.TimestampType())]
    )
    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write(json.dumps({"k": "a", "ts": "2024-01-01 00:00:00"}) + "\n")
        f.write(json.dumps({"k": "a", "ts": "2024-01-01 00:00:05"}) + "\n")  # dup
        f.write(json.dumps({"k": "b", "ts": "2024-01-01 00:00:10"}) + "\n")
    stream = spark.readStream.schema(schema).json(src)
    deduped = streaming_dedup(stream, ["k"], watermark_col="ts", delay="10 minutes")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        with open(os.path.join(src, "b2.json"), "w") as f:
            f.write(json.dumps({"k": "a", "ts": "2024-01-01 00:01:00"}) + "\n")  # dup
            f.write(json.dumps({"k": "c", "ts": "2024-01-01 00:01:00"}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(f"SELECT k FROM {name}").collect()
    assert sorted(r["k"] for r in rows) == ["a", "b", "c"]


class TestParagraphDedup:
    def _docs(self, spark):
        from pyspark.sql import Row
        sep = "\n\n"
        return spark.createDataFrame([
            Row(doc_id=0, text=sep.join(["intro zero", "SHARED FOOTER"])),
            Row(doc_id=1, text=sep.join(["body one", "SHARED FOOTER", "tail one"])),
            Row(doc_id=2, text=sep.join(["SHARED FOOTER"])),          # nothing novel
            Row(doc_id=3, text=sep.join(["dup", "dup", "after dups"])),  # within-doc dup
        ])

    def test_cross_doc_repeats_keep_first_occurrence(self, spark):
        from data_stream_flink_user_address_spark.functions.dedup import (
            paragraph_dedup,
        )
        out = {r.doc_id: r for r in paragraph_dedup(self._docs(spark)).collect()}
        assert out[0].text == "intro zero\n\nSHARED FOOTER"
        assert out[1].text == "body one\n\ntail one"
        assert 2 not in out  # all paragraphs seen earlier -> dropped
        assert out[3].text == "dup\n\nafter dups"  # within-doc dup collapses too
        assert (out[1].n_paras, out[1].n_kept) == (3, 2)

    def test_keep_empty_retains_fully_deduped_doc(self, spark):
        from data_stream_flink_user_address_spark.functions.dedup import (
            paragraph_dedup,
        )
        out = {r.doc_id: r for r in
               paragraph_dedup(self._docs(spark), keep_empty=True).collect()}
        assert out[2].text == "" and out[2].n_kept == 0 and out[2].n_paras == 1

    def test_idempotent(self, spark):
        from data_stream_flink_user_address_spark.functions.dedup import (
            paragraph_dedup,
        )
        once = paragraph_dedup(self._docs(spark)).select("doc_id", "text")
        twice = paragraph_dedup(once).select("doc_id", "text")
        assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))

    def test_separator_is_literal_not_regex(self, spark):
        """ADVICE r10: '. ' (dot = any char) and '|' (alternation =
        empty pattern, splits every char) must split ONLY on the literal
        separator."""
        from pyspark.sql import Row
        from data_stream_flink_user_address_spark.functions.dedup import (
            paragraph_dedup,
        )
        docs = spark.createDataFrame([
            Row(doc_id=0, text="alpha beta. gamma delta"),
            Row(doc_id=1, text="x|y"),
        ])
        dot = {r.doc_id: r for r in paragraph_dedup(docs, sep=". ").collect()}
        assert dot[0].n_paras == 2
        assert dot[0].text == "alpha beta. gamma delta"
        pipe = {r.doc_id: r for r in paragraph_dedup(docs, sep="|").collect()}
        assert pipe[1].n_paras == 2
        assert pipe[1].text == "x|y"

    def test_empty_paragraphs_pass_through_unfingerprinted(self, spark):
        """ADVICE r10: all empty paragraphs share md5(''), so deduping
        them silently rewrote spacing in every doc after the first.
        They must survive everywhere and not count toward n_kept."""
        from pyspark.sql import Row
        from data_stream_flink_user_address_spark.functions.dedup import (
            paragraph_dedup,
        )
        docs = spark.createDataFrame([
            Row(doc_id=0, text="a\n\n\n\nb"),
            Row(doc_id=1, text="c\n\n\n\nd"),
        ])
        out = {r.doc_id: r for r in paragraph_dedup(docs).collect()}
        assert out[0].text == "a\n\n\n\nb"
        assert out[1].text == "c\n\n\n\nd"  # doc 1's blank para not stolen by doc 0
        assert (out[0].n_paras, out[0].n_kept) == (3, 2)


class TestSimhashPairs:
    def test_banding_is_exact_for_max_hamming(self, spark):
        """bands = max_hamming+1 must find EVERY pair within the
        distance (pigeonhole), verified against brute force."""
        import itertools

        from data_stream_flink_user_address_spark.functions.dedup import (
            simhash_near_dup_pairs,
        )

        sigs = [
            (0, 0b10110010101100101011001010110010),
            (1, 0b10110010101100101011001010110011),  # d(0,1)=1
            (2, 0b10110010101100101011001010000010),  # d(0,2)=3
            (3, 0b01001101010011010100110101001101),  # far from all
            (4, 0b10110010101100101011001010110010),  # d(0,4)=0
            (5, 0b10110010101110101011001110110110),  # d(0,5)=4 -> out
        ]
        df = spark.createDataFrame(sigs, "doc_id long, simhash long")
        got = {(r.doc_a, r.doc_b): r.hamming
               for r in simhash_near_dup_pairs(df, max_hamming=3, bits=32).collect()}
        want = {}
        for (a, sa), (b, sb) in itertools.combinations(sigs, 2):
            d = bin(sa ^ sb).count("1")
            if d <= 3:
                want[(a, b)] = d
        assert got == want
        assert (0, 4) in got and got[(0, 4)] == 0
        assert all(v != 4 for v in got.values())

    def test_rejects_indivisible_band_width(self, spark):
        import pytest

        from data_stream_flink_user_address_spark.functions.dedup import (
            simhash_near_dup_pairs,
        )

        df = spark.createDataFrame([(0, 1)], "doc_id long, simhash long")
        with pytest.raises(ValueError):
            simhash_near_dup_pairs(df, max_hamming=3, bits=32, bands=5)


class TestBoilerplateLineDedup:
    """boilerplate_line_dedup: the RefinedWeb duplicated-line rule --
    EVERY occurrence of a min_df-crossing line is removed (unlike
    paragraph_dedup's first-occurrence-wins)."""

    def _docs(self, spark):
        from pyspark.sql import Row
        return spark.createDataFrame([
            Row(doc_id=0, text="BANNER\nunique zero\n  \nfooter"),
            Row(doc_id=1, text="BANNER\nunique one\nfooter"),
            Row(doc_id=2, text="BANNER\nunique two\nfooter"),
        ])

    def test_all_occurrences_removed_not_first_kept(self, spark):
        from data_stream_flink_user_address_spark.functions.dedup import (
            boilerplate_line_dedup,
        )
        out = {r.doc_id: r for r in
               boilerplate_line_dedup(self._docs(spark), min_df=3).collect()}
        assert len(out) == 3  # one row per input doc, always
        # BANNER and footer hit df=3: removed from EVERY doc, including doc 0
        assert out[0].text == "unique zero\n  "
        assert out[0].n_lines == 4 and out[0].n_removed == 2
        assert out[1].text == "unique one"
        assert out[2].text == "unique two"

    def test_min_df_boundary_spares_below_threshold(self, spark):
        from data_stream_flink_user_address_spark.functions.dedup import (
            boilerplate_line_dedup,
        )
        # df(BANNER)=3 >= 4? no -> min_df=4 keeps everything
        out = {r.doc_id: r for r in
               boilerplate_line_dedup(self._docs(spark), min_df=4).collect()}
        assert all(r.n_removed == 0 for r in out.values())

    def test_within_doc_repeats_do_not_count_toward_df(self, spark):
        from pyspark.sql import Row
        from data_stream_flink_user_address_spark.functions.dedup import (
            boilerplate_line_dedup,
        )
        docs = spark.createDataFrame([
            Row(doc_id=0, text="same\nsame\nsame"),
            Row(doc_id=1, text="other"),
        ])
        out = {r.doc_id: r for r in
               boilerplate_line_dedup(docs, min_df=2).collect()}
        # df('same') counts DISTINCT docs = 1 < 2: survives
        assert out[0].text == "same\nsame\nsame"
        assert out[0].n_removed == 0

    def test_boilerplate_only_doc_keeps_row_with_empty_text(self, spark):
        from pyspark.sql import Row
        from data_stream_flink_user_address_spark.functions.dedup import (
            boilerplate_line_dedup,
        )
        docs = spark.createDataFrame([
            Row(doc_id=0, text="chrome"),
            Row(doc_id=1, text="chrome"),
            Row(doc_id=2, text="chrome\nbody"),
        ])
        out = {r.doc_id: r for r in
               boilerplate_line_dedup(docs, min_df=2).collect()}
        assert out[0].text == "" and out[0].n_removed == 1
        assert out[2].text == "body"

    def test_whitespace_only_lines_never_fingerprinted(self, spark):
        from pyspark.sql import Row
        from data_stream_flink_user_address_spark.functions.dedup import (
            boilerplate_line_dedup,
        )
        docs = spark.createDataFrame([
            Row(doc_id=0, text="a\n \nb"),
            Row(doc_id=1, text="c\n \nd"),
            Row(doc_id=2, text="e\n \nf"),
        ])
        out = {r.doc_id: r for r in
               boilerplate_line_dedup(docs, min_df=2).collect()}
        # the blank spacer recurs in all 3 docs but must survive in all
        assert out[0].text == "a\n \nb"
        assert out[1].text == "c\n \nd"

    def test_normalized_matching_is_whitespace_insensitive(self, spark):
        from pyspark.sql import Row
        from data_stream_flink_user_address_spark.functions.dedup import (
            boilerplate_line_dedup,
        )
        docs = spark.createDataFrame([
            Row(doc_id=0, text="cookie   notice\nbody zero"),
            Row(doc_id=1, text="  cookie notice \nbody one"),
        ])
        out = {r.doc_id: r for r in
               boilerplate_line_dedup(docs, min_df=2).collect()}
        assert out[0].text == "body zero"
        assert out[1].text == "body one"


class TestIncrementalExactDedup:
    """incremental_exact_dedup: continuous-crawl dedup of a new batch
    against a persisted fingerprint store, replay-idempotent appends."""

    def _mk(self, spark, rows):
        from pyspark.sql import Row
        return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])

    def test_first_batch_then_incremental(self, spark, tmp_path):
        from data_stream_flink_user_address_spark.functions.dedup import (
            build_fingerprint_store, incremental_exact_dedup,
        )
        store = str(tmp_path / "store")
        build_fingerprint_store(
            self._mk(spark, [(0, "alpha"), (1, "beta")]), store, batch_id=0
        )
        # batch 1: one novel doc, one exact dup of the store ('alpha',
        # whitespace-normalized), one within-batch dup pair
        batch = self._mk(spark, [
            (10, "  alpha  "),      # dup of store after normalization
            (11, "gamma"),          # novel
            (12, "delta"), (13, "delta"),  # within-batch dup: keep 12
        ])
        out = incremental_exact_dedup(batch, store, batch_id=1)
        assert {r.doc_id for r in out.collect()} == {11, 12}
        # store now rejects batch-1 survivors on the next batch
        nxt = self._mk(spark, [(20, "gamma"), (21, "epsilon")])
        out2 = incremental_exact_dedup(nxt, store, batch_id=2)
        assert {r.doc_id for r in out2.collect()} == {21}

    def test_replay_overwrites_own_partition(self, spark, tmp_path):
        from data_stream_flink_user_address_spark.functions.dedup import (
            build_fingerprint_store, incremental_exact_dedup,
        )
        store = str(tmp_path / "store")
        build_fingerprint_store(self._mk(spark, [(0, "seed")]), store, batch_id=0)
        batch = self._mk(spark, [(10, "x"), (11, "y")])
        incremental_exact_dedup(batch, store, batch_id=1)
        # replay the SAME batch: its own __batch=1 partition is
        # EXCLUDED from the anti-join, so the replay returns the same
        # survivors and overwrites the same partition -- idempotent in
        # both the returned frame and the stored state
        replay = incremental_exact_dedup(batch, store, batch_id=1)
        assert {r.doc_id for r in replay.collect()} == {10, 11}
        fps = spark.read.parquet(store).select("fingerprint").collect()
        assert len(fps) == len({r.fingerprint for r in fps}) == 3  # seed,x,y

    def test_no_store_yet_keeps_batch_firsts(self, spark, tmp_path):
        from data_stream_flink_user_address_spark.functions.dedup import (
            incremental_exact_dedup,
        )
        store = str(tmp_path / "missing")
        batch = self._mk(spark, [(1, "a"), (2, "a"), (3, "b")])
        out = incremental_exact_dedup(batch, store)  # no append
        assert {r.doc_id for r in out.collect()} == {1, 3}
        import os
        assert not os.path.exists(store)  # read-only call leaves no store


class TestBucketedIncrementalDedup:
    """incremental_exact_dedup_bucketed: identical survivor semantics
    against a bucketed catalog-table store (zero store-side exchange --
    plan pinned in test_plan_shapes.py)."""

    def _mk(self, spark, rows):
        from pyspark.sql import Row
        return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])

    def test_same_survivors_as_parquet_store(self, spark, tmp_path):
        from data_stream_flink_user_address_spark.functions.dedup import (
            build_bucketed_fingerprint_store,
            incremental_exact_dedup_bucketed,
        )
        spark.sql("DROP TABLE IF EXISTS fp_store_fn_t")
        build_bucketed_fingerprint_store(
            self._mk(spark, [(0, "alpha"), (1, "beta")]),
            "fp_store_fn_t", str(tmp_path / "store"), n_buckets=4,
        )
        try:
            batch = self._mk(spark, [
                (10, "  alpha  "),             # store dup (normalized)
                (11, "gamma"),                 # novel
                (12, "delta"), (13, "delta"),  # within-batch dup: keep 12
            ])
            out = incremental_exact_dedup_bucketed(batch, "fp_store_fn_t")
            assert {r.doc_id for r in out.collect()} == {11, 12}
        finally:
            spark.sql("DROP TABLE IF EXISTS fp_store_fn_t")

    def test_append_grows_store_with_same_spec(self, spark, tmp_path):
        from data_stream_flink_user_address_spark.functions.dedup import (
            build_bucketed_fingerprint_store,
            incremental_exact_dedup_bucketed,
        )
        spark.sql("DROP TABLE IF EXISTS fp_store_app_t")
        path = str(tmp_path / "store")
        build_bucketed_fingerprint_store(
            self._mk(spark, [(0, "seed")]), "fp_store_app_t", path, n_buckets=4
        )
        try:
            build_bucketed_fingerprint_store(
                self._mk(spark, [(5, "grow")]), "fp_store_app_t", path,
                n_buckets=4, mode="append",
            )
            nxt = self._mk(spark, [(20, "grow"), (21, "epsilon")])
            out = incremental_exact_dedup_bucketed(nxt, "fp_store_app_t")
            assert {r.doc_id for r in out.collect()} == {21}
        finally:
            spark.sql("DROP TABLE IF EXISTS fp_store_app_t")


class TestStreamingIncrementalDedup:
    """streaming_incremental_dedup: the batch incremental operator run
    per micro-batch via foreachBatch -- survivors gate against ALL
    prior history through the parquet store, across micro-batches and
    across restarts, with zero streaming state."""

    def test_two_batches_gate_against_store_and_history(self, spark, tmp_path):
        import json as _json
        import uuid as _uuid

        from pyspark.sql import types as T

        from data_stream_flink_user_address_spark.functions.dedup import (
            build_fingerprint_store,
            streaming_incremental_dedup,
        )

        src = str(tmp_path / "src")
        os.makedirs(src)
        store = str(tmp_path / "store")
        out = str(tmp_path / "out")
        # seed history: 'alpha' is already known (batch_id defaults to 0,
        # far below the streaming epochs' batch_id_base)
        build_fingerprint_store(
            spark.createDataFrame([(0, "alpha")], "doc_id long, text string"),
            store,
        )
        schema = T.StructType(
            [T.StructField("doc_id", T.LongType()),
             T.StructField("text", T.StringType())]
        )
        with open(os.path.join(src, "b1.json"), "w") as f:
            f.write(_json.dumps({"doc_id": 10, "text": " alpha "}) + "\n")  # store dup
            f.write(_json.dumps({"doc_id": 11, "text": "beta"}) + "\n")     # novel
            f.write(_json.dumps({"doc_id": 12, "text": "gamma"}) + "\n")    # novel
            f.write(_json.dumps({"doc_id": 13, "text": "gamma"}) + "\n")    # in-batch dup
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).json(src)
        q = streaming_incremental_dedup(
            stream, store, out, str(tmp_path / "ck")
        )
        try:
            q.processAllAvailable()
            with open(os.path.join(src, "b2.json"), "w") as f:
                f.write(_json.dumps({"doc_id": 20, "text": "beta"}) + "\n")   # dup of epoch-0 survivor
                f.write(_json.dumps({"doc_id": 21, "text": "delta"}) + "\n")  # novel
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.read.parquet(out).collect()
        assert {r.doc_id for r in rows} == {11, 12, 21}
        # every epoch's survivors landed under their own partition
        assert {r["__epoch"] for r in rows} == {0, 1}
        # the store holds exactly the distinct fingerprints seen
        fps = spark.read.parquet(store).select("fingerprint").collect()
        assert len({r.fingerprint for r in fps}) == 4  # alpha beta gamma delta
        assert len(fps) == 4  # and no duplicate rows across partitions

    def test_history_survives_query_restart(self, spark, tmp_path):
        import json as _json

        from pyspark.sql import types as T

        from data_stream_flink_user_address_spark.functions.dedup import (
            streaming_incremental_dedup,
        )

        src = str(tmp_path / "src")
        os.makedirs(src)
        store = str(tmp_path / "store")
        out = str(tmp_path / "out")
        ck = str(tmp_path / "ck")
        schema = T.StructType(
            [T.StructField("doc_id", T.LongType()),
             T.StructField("text", T.StringType())]
        )
        with open(os.path.join(src, "b1.json"), "w") as f:
            f.write(_json.dumps({"doc_id": 1, "text": "one"}) + "\n")
        stream = spark.readStream.schema(schema).json(src)
        q = streaming_incremental_dedup(stream, store, out, ck)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # NEW query, same checkpoint + store: history is in the parquet
        # store, not in streaming state, so 'one' must still be gated
        with open(os.path.join(src, "b2.json"), "w") as f:
            f.write(_json.dumps({"doc_id": 2, "text": "one"}) + "\n")  # historical dup
            f.write(_json.dumps({"doc_id": 3, "text": "two"}) + "\n")  # novel
        stream2 = spark.readStream.schema(schema).json(src)
        q2 = streaming_incremental_dedup(stream2, store, out, ck)
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3}


class TestStreamingBucketedDedup:
    """streaming_incremental_dedup_bucketed: the per-epoch anti-join
    gates against the BUCKETED catalog store (zero store-side exchange
    -- the 100 TB store shape), epochs append their survivors'
    fingerprints back into the store with the same bucket spec, and a
    replayed epoch computes identical survivors because its own
    leftover store rows are excluded from the gate."""

    def _mk(self, spark, rows):
        from pyspark.sql import Row
        return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])

    def test_two_batches_gate_against_bucketed_store(self, spark, tmp_path):
        from data_stream_flink_user_address_spark.functions.dedup import (
            build_bucketed_fingerprint_store,
            streaming_incremental_dedup_bucketed,
        )

        src = str(tmp_path / "src")
        os.makedirs(src)
        out = str(tmp_path / "out")
        spark.sql("DROP TABLE IF EXISTS fp_stream_bkt_t")
        # seed history BELOW any streaming epoch id
        build_bucketed_fingerprint_store(
            self._mk(spark, [(0, "alpha")]),
            "fp_stream_bkt_t", str(tmp_path / "store"), n_buckets=4,
            epoch=-1,
        )
        schema = T.StructType(
            [T.StructField("doc_id", T.LongType()),
             T.StructField("text", T.StringType())]
        )
        with open(os.path.join(src, "b1.json"), "w") as f:
            f.write(json.dumps({"doc_id": 10, "text": " alpha "}) + "\n")  # store dup
            f.write(json.dumps({"doc_id": 11, "text": "beta"}) + "\n")     # novel
            f.write(json.dumps({"doc_id": 12, "text": "gamma"}) + "\n")    # novel
            f.write(json.dumps({"doc_id": 13, "text": "gamma"}) + "\n")    # in-batch dup
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).json(src)
        q = streaming_incremental_dedup_bucketed(
            stream, "fp_stream_bkt_t", out, str(tmp_path / "ck")
        )
        try:
            q.processAllAvailable()
            with open(os.path.join(src, "b2.json"), "w") as f:
                f.write(json.dumps({"doc_id": 20, "text": "beta"}) + "\n")   # dup of epoch-0 survivor
                f.write(json.dumps({"doc_id": 21, "text": "delta"}) + "\n")  # novel
            q.processAllAvailable()
            q.stop()
            rows = spark.read.parquet(out).collect()
            assert {r.doc_id for r in rows} == {11, 12, 21}
            assert {r["__epoch"] for r in rows} == {0, 1}
            # observer contract: foreachBatch appends land in a cloned
            # session; this session must refresh to see the growth
            spark.catalog.refreshTable("fp_stream_bkt_t")
            fps = spark.table("fp_stream_bkt_t").select("fingerprint")
            assert fps.distinct().count() == 4  # alpha beta gamma delta
        finally:
            q.stop()
            spark.sql("DROP TABLE IF EXISTS fp_stream_bkt_t")

    def test_epoch_replay_is_idempotent(self, spark, tmp_path):
        """Crash-after-store-append replay: running the SAME epoch body
        twice yields identical survivors (the epoch's own leftover store
        rows are excluded from the gate) and identical survivor output
        (partition overwrite), and the store's MEMBERSHIP set is
        unchanged; a later epoch then gates correctly against it."""
        from data_stream_flink_user_address_spark.functions.dedup import (
            _bucketed_gate,
            build_bucketed_fingerprint_store,
        )

        out = str(tmp_path / "out")
        spark.sql("DROP TABLE IF EXISTS fp_replay_bkt_t")
        build_bucketed_fingerprint_store(
            self._mk(spark, [(0, "alpha")]),
            "fp_replay_bkt_t", str(tmp_path / "store"), n_buckets=4,
            epoch=-1,
        )
        try:
            b1 = self._mk(spark, [(10, "alpha"), (11, "beta"), (12, "beta")])
            for _ in range(2):  # epoch 0 runs, "crashes" post-commit, replays
                _bucketed_gate(
                    "fp_replay_bkt_t", out, "text", "doc_id",
                )(b1, 0)
            rows = spark.read.parquet(out).collect()
            assert {r.doc_id for r in rows} == {11}
            assert {r["__epoch"] for r in rows} == {0}
            # store membership: alpha (seed) + beta (epoch 0), as a SET
            fps = spark.table("fp_replay_bkt_t").select("fingerprint")
            assert fps.distinct().count() == 2
            # the double-append left duplicate beta ROWS (documented:
            # bucketed tables only append) -- harmless to the gate:
            b2 = self._mk(spark, [(20, "beta"), (21, "delta")])
            _bucketed_gate(
                "fp_replay_bkt_t", out, "text", "doc_id",
            )(b2, 1)
            rows = spark.read.parquet(out).collect()
            assert {r.doc_id for r in rows} == {11, 21}
        finally:
            spark.sql("DROP TABLE IF EXISTS fp_replay_bkt_t")

    def test_epoch_profile_funnel(self, spark, tmp_path):
        """The exact bucketed gate shares _write_epoch_profile; the
        admitted leg recovers text even though exact survivors DO carry
        it (one uniform recovery path across the gate family)."""
        from data_stream_flink_user_address_spark.functions.dedup import (
            _bucketed_gate,
            build_bucketed_fingerprint_store,
        )

        out = str(tmp_path / "out")
        prof = str(tmp_path / "prof")
        spark.sql("DROP TABLE IF EXISTS fp_prof_bkt_t")
        build_bucketed_fingerprint_store(
            self._mk(spark, [(0, "alpha")]),
            "fp_prof_bkt_t", str(tmp_path / "store"), n_buckets=4,
            epoch=-1,
        )
        try:
            b1 = self._mk(spark, [(10, "alpha"), (11, "beta"), (12, "beta")])
            for _ in range(2):
                _bucketed_gate(
                    "fp_prof_bkt_t", out, "text", "doc_id", profile_path=prof,
                )(b1, 0)
            got = {
                (r.stage, r["__epoch"]): r.n_docs
                for r in spark.read.parquet(prof).collect()
            }
            assert got == {("raw", 0): 3, ("admitted", 0): 1}
        finally:
            spark.sql("DROP TABLE IF EXISTS fp_prof_bkt_t")

    def test_compaction_reclaims_replay_duplicates(self, spark, tmp_path):
        """After a replayed epoch double-appends its fingerprints,
        compaction rewrites the store to one row per fingerprint with
        min(__epoch) tags and the SAME bucket spec -- the gate computes
        identical survivors against the compacted table, and its scan
        is still bucketed (zero store-side exchange preserved)."""
        from data_stream_flink_user_address_spark.functions.dedup import (
            _bucketed_gate,
            build_bucketed_fingerprint_store,
            compact_bucketed_fingerprint_store,
            incremental_exact_dedup_bucketed,
        )

        out = str(tmp_path / "out")
        for t in ("fp_cmp_src_t", "fp_cmp_dst_t"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        build_bucketed_fingerprint_store(
            self._mk(spark, [(0, "alpha")]),
            "fp_cmp_src_t", str(tmp_path / "store"), n_buckets=4,
            epoch=-1,
        )
        try:
            b1 = self._mk(spark, [(10, "beta"), (11, "gamma")])
            for _ in range(2):  # replay doubles epoch 0's store rows
                _bucketed_gate(
                    "fp_cmp_src_t", out, "text", "doc_id",
                )(b1, 0)
            before, after = compact_bucketed_fingerprint_store(
                spark, "fp_cmp_src_t", "fp_cmp_dst_t",
                str(tmp_path / "store_c"),
            )
            assert (before, after) == (5, 3)  # alpha + 2x(beta gamma) -> 3
            # epoch tags preserved: seed row still -1, epoch-0 rows 0
            tags = {
                r.fingerprint: r["__epoch"]
                for r in spark.table("fp_cmp_dst_t").collect()
            }
            assert sorted(tags.values()) == [-1, 0, 0]
            # gate semantics unchanged against the compacted table
            b2 = self._mk(spark, [(20, "beta"), (21, "delta")])
            got = incremental_exact_dedup_bucketed(b2, "fp_cmp_dst_t")
            assert {r.doc_id for r in got.collect()} == {21}
            # bucket spec carried over (n_buckets read from the catalog)
            meta = {
                r.col_name: r.data_type
                for r in spark.sql("DESCRIBE EXTENDED fp_cmp_dst_t").collect()
            }
            assert meta["Num Buckets"] == "4"
        finally:
            for t in ("fp_cmp_src_t", "fp_cmp_dst_t"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestIncrementalMinhashDedup:
    """incremental_minhash_dedup: NEAR-dup gating of a batch against
    the persisted band store -- the fuzzy twin of the exact bucketed
    path, sharing its epoch/replay contract.  Fixture texts are chosen
    so the deterministic MinHash (fixed LCG params) yields agreement
    1.0 for the tail-perturbed near-dup and ~0.94 for the within-batch
    pair -- both above the 0.7 default threshold."""

    BASE = ("the quick brown fox jumps over the lazy dog while the band "
            "plays on and the crowd cheers loudly in the warm summer "
            "evening air")
    NOVEL = ("completely different content about spark catalyst optimizer "
             "rules and tungsten whole stage code generation for volcano "
             "iterators")
    NOVEL2 = ("another unrelated document describing parquet column chunk "
              "statistics predicate pushdown and row group pruning "
              "behaviour")

    def _mk(self, spark, rows):
        from pyspark.sql import Row
        return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])

    def _seed(self, spark, table, tmp_path):
        from data_stream_flink_user_address_spark.functions.dedup import (
            build_minhash_band_store,
        )
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        build_minhash_band_store(
            self._mk(spark, [(0, self.BASE), (1, self.NOVEL)]),
            table, str(tmp_path / "store"), n_buckets=4, epoch=-1,
        )

    def test_gate_and_within_batch_cluster(self, spark, tmp_path):
        from data_stream_flink_user_address_spark.functions.dedup import (
            incremental_minhash_dedup,
        )
        self._seed(spark, "mh_store_fn_t", tmp_path)
        try:
            batch = self._mk(spark, [
                (100, self.BASE + " tonight"),   # near-dup of store 0
                (101, self.BASE),                # exact dup of store 0
                (102, self.NOVEL2),              # novel: keep (min id)
                (103, self.NOVEL2 + " extra"),   # near-dup of 102: drop
            ])
            out = incremental_minhash_dedup(batch, "mh_store_fn_t")
            assert {r.doc_id for r in out.collect()} == {102}
            # survivors carry their signature for the store append
            assert set(out.columns) == {"doc_id", "signature"}
        finally:
            spark.sql("DROP TABLE IF EXISTS mh_store_fn_t")

    def test_epoch_replay_and_history(self, spark, tmp_path):
        from data_stream_flink_user_address_spark.functions.dedup import (
            _minhash_gate,
        )
        self._seed(spark, "mh_replay_fn_t", tmp_path)
        out = str(tmp_path / "out")
        try:
            b1 = self._mk(spark, [(100, self.NOVEL2), (101, self.NOVEL2 + " extra")])
            for _ in range(2):  # replayed epoch excludes its own appends
                _minhash_gate(
                    "mh_replay_fn_t", out, "text", "doc_id", 0.7, 5, 16, 4, 4,
                )(b1, 0)
            rows = spark.read.parquet(out).collect()
            assert sorted((r.doc_id, r["__epoch"]) for r in rows) == [(100, 0)]
            # store membership: 2 seed + 1 survivor, 4 band rows each
            spark.catalog.refreshTable("mh_replay_fn_t")
            st = spark.table("mh_replay_fn_t")
            assert st.select("doc_id").distinct().count() == 3
            # later epoch gates against epoch 0's survivor
            b2 = self._mk(spark, [
                (200, self.NOVEL2 + " more"),  # near-dup of 100: drop
                (201, "yet another fresh text on adaptive query execution "
                      "and skew join splitting at runtime inside spark"),
            ])
            _minhash_gate(
                "mh_replay_fn_t", out, "text", "doc_id", 0.7, 5, 16, 4, 4,
            )(b2, 1)
            rows = spark.read.parquet(out).collect()
            assert sorted((r.doc_id, r["__epoch"]) for r in rows) == [
                (100, 0), (201, 1),
            ]
        finally:
            spark.sql("DROP TABLE IF EXISTS mh_replay_fn_t")

    def test_epoch_profile_funnel(self, spark, tmp_path):
        """profile_path writes raw-vs-admitted funnel rows per epoch,
        and a replayed epoch REWRITES its partition (no double count)."""
        from data_stream_flink_user_address_spark.functions.dedup import (
            _minhash_gate,
        )
        self._seed(spark, "mh_prof_fn_t", tmp_path)
        out = str(tmp_path / "out")
        prof = str(tmp_path / "prof")
        try:
            b1 = self._mk(spark, [
                (100, self.NOVEL2),              # novel: admitted
                (101, self.NOVEL2 + " extra"),   # within-batch near-dup: dropped
                (102, self.BASE),                # exact dup of seed: dropped
            ])
            for _ in range(2):  # replay must rewrite, not append
                _minhash_gate(
                    "mh_prof_fn_t", out, "text", "doc_id", 0.7, 5, 16, 4, 4,
                    profile_path=prof,
                )(b1, 0)
            rows = spark.read.parquet(prof).collect()
            got = {(r.stage, r["__epoch"]): r.n_docs for r in rows}
            assert got == {("raw", 0): 3, ("admitted", 0): 1}
            # admitted leg recovered text: token stats are non-trivial
            adm = [r for r in rows if r.stage == "admitted"][0]
            assert adm.total_tokens > 0 and adm.n_empty_docs == 0
        finally:
            spark.sql("DROP TABLE IF EXISTS mh_prof_fn_t")

    def test_streaming_end_to_end(self, spark, tmp_path):
        from data_stream_flink_user_address_spark.functions.dedup import (
            streaming_incremental_minhash_dedup,
        )
        self._seed(spark, "mh_stream_fn_t", tmp_path)
        src = str(tmp_path / "src")
        os.makedirs(src)
        out = str(tmp_path / "out")
        schema = T.StructType(
            [T.StructField("doc_id", T.LongType()),
             T.StructField("text", T.StringType())]
        )
        with open(os.path.join(src, "b1.json"), "w") as f:
            f.write(json.dumps({"doc_id": 100, "text": self.BASE + " tonight"}) + "\n")
            f.write(json.dumps({"doc_id": 102, "text": self.NOVEL2}) + "\n")
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).json(src)
        # prime this session's relation cache BEFORE the stream: the
        # compactor below must still see the stream's appends
        assert spark.table("mh_stream_fn_t").count() == 8  # 2 docs x 4 bands
        q = streaming_incremental_minhash_dedup(
            stream, "mh_stream_fn_t", out, str(tmp_path / "ck")
        )
        try:
            q.processAllAvailable()
            with open(os.path.join(src, "b2.json"), "w") as f:
                f.write(json.dumps({"doc_id": 200, "text": self.NOVEL2 + " more"}) + "\n")
                f.write(json.dumps({"doc_id": 201, "text": "fresh text about arrow batched pandas udf transfer overhead"}) + "\n")
            q.processAllAvailable()
            q.stop()
            rows = spark.read.parquet(out).collect()
            assert sorted((r.doc_id, r["__epoch"]) for r in rows) == [
                (102, 0), (201, 1),
            ]
            # compactor must refresh internally: this session's cached
            # listing predates the stream's appends (2 seed + 2 admitted)
            from data_stream_flink_user_address_spark.functions.dedup import (
                compact_minhash_band_store,
            )
            before, after = compact_minhash_band_store(
                spark, "mh_stream_fn_t", "mh_stream_fn_c_t",
                str(tmp_path / "store_c"),
            )
            assert (before, after) == (16, 16)
        finally:
            q.stop()
            spark.sql("DROP TABLE IF EXISTS mh_stream_fn_t")
            spark.sql("DROP TABLE IF EXISTS mh_stream_fn_c_t")

    def test_band_store_compaction(self, spark, tmp_path):
        """Replay-appended band rows collapse to one per (band_key,
        doc); gate semantics and bucket spec unchanged against the
        compacted table."""
        from data_stream_flink_user_address_spark.functions.dedup import (
            _minhash_gate,
            compact_minhash_band_store,
            incremental_minhash_dedup,
        )
        self._seed(spark, "mh_cmp_src_t", tmp_path)
        out = str(tmp_path / "out")
        try:
            b1 = self._mk(spark, [(100, self.NOVEL2)])
            for _ in range(2):  # replay doubles epoch 0's band rows
                _minhash_gate(
                    "mh_cmp_src_t", out, "text", "doc_id", 0.7, 5, 16, 4, 4,
                )(b1, 0)
            before, after = compact_minhash_band_store(
                spark, "mh_cmp_src_t", "mh_cmp_dst_t",
                str(tmp_path / "store_c"),
            )
            # 2 seed docs x 4 bands + doc 100 x 4 x 2 -> 12 distinct
            assert (before, after) == (16, 12)
            tags = dict(
                spark.table("mh_cmp_dst_t")
                .groupBy("doc_id").agg(F.min("__epoch").alias("e"))
                .collect()
            )
            assert tags == {0: -1, 1: -1, 100: 0}
            got = incremental_minhash_dedup(
                self._mk(spark, [
                    (200, self.NOVEL2 + " more"),  # near-dup of 100: drop
                    (201, "fresh text about shuffle partition coalescing"),
                ]),
                "mh_cmp_dst_t",
            )
            assert {r.doc_id for r in got.collect()} == {201}
        finally:
            for t in ("mh_cmp_src_t", "mh_cmp_dst_t"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_sub_shingle_docs_pass_through_ungated(self, spark, tmp_path):
        """Docs shorter than the shingle width cannot be MinHashed; an
        admission gate must not silently lose them -- they survive with
        an empty signature, and the epoch body keeps them OUT of the
        band store (no degenerate hot band keys)."""
        from data_stream_flink_user_address_spark.functions.dedup import (
            _minhash_gate,
            incremental_minhash_dedup,
        )
        self._seed(spark, "mh_short_fn_t", tmp_path)
        try:
            batch = self._mk(spark, [
                (5, "abc"),                      # sub-shingle: pass through
                (6, self.BASE),                  # store dup: drop
                (7, self.NOVEL2),                # novel: keep
            ])
            out = incremental_minhash_dedup(batch, "mh_short_fn_t")
            got = {r.doc_id: list(r.signature) for r in out.collect()}
            assert set(got) == {5, 7}
            assert got[5] == [] and len(got[7]) == 16
            # streaming epoch: short doc lands in survivors, not store
            _minhash_gate(
                "mh_short_fn_t", str(tmp_path / "out"), "text", "doc_id",
                0.7, 5, 16, 4, 4,
            )(batch, 0)
            surv = spark.read.parquet(str(tmp_path / "out"))
            assert {r.doc_id for r in surv.collect()} == {5, 7}
            spark.catalog.refreshTable("mh_short_fn_t")
            store_ids = {
                r.doc_id for r in
                spark.table("mh_short_fn_t").select("doc_id").distinct().collect()
            }
            assert 5 not in store_ids and 7 in store_ids
        finally:
            spark.sql("DROP TABLE IF EXISTS mh_short_fn_t")

    def test_null_text_passes_through_ungated(self, spark, tmp_path):
        """NULL text must ride the sub-shingle pass-through, not vanish:
        a bare length(NULL) < n is NULL, which fails BOTH branch filters
        and silently lost the row before the coalesce fix (the exact and
        SimHash gates both retain NULL-text rows)."""
        from data_stream_flink_user_address_spark.functions.dedup import (
            incremental_minhash_dedup,
        )
        self._seed(spark, "mh_null_fn_t", tmp_path)
        try:
            batch = self._mk(spark, [
                (10, None),          # NULL text: pass through ungated
                (11, self.BASE),     # store dup: drop
                (12, self.NOVEL2),   # novel: keep
            ])
            out = incremental_minhash_dedup(batch, "mh_null_fn_t")
            got = {r.doc_id: list(r.signature) for r in out.collect()}
            assert set(got) == {10, 12}
            assert got[10] == [] and len(got[12]) == 16
        finally:
            spark.sql("DROP TABLE IF EXISTS mh_null_fn_t")

    def test_compaction_with_custom_id_col(self, spark, tmp_path):
        """A store seeded with a non-default id column compacts without
        the caller restating it: the compactor derives the id column
        from the store schema (it used to hard-code 'doc_id' and raise
        AnalysisException at compaction time)."""
        from pyspark.sql import Row
        from data_stream_flink_user_address_spark.functions.dedup import (
            build_minhash_band_store,
            compact_minhash_band_store,
        )
        spark.sql("DROP TABLE IF EXISTS mh_cid_src_t")
        df = spark.createDataFrame([
            Row(page_id="pg-a", text=self.BASE),
            Row(page_id="pg-b", text=self.NOVEL),
        ])
        build_minhash_band_store(
            df, "mh_cid_src_t", str(tmp_path / "cid_store"), n_buckets=4,
            id_col="page_id", epoch=-1,
        )
        try:
            before, after = compact_minhash_band_store(
                spark, "mh_cid_src_t", "mh_cid_dst_t",
                str(tmp_path / "cid_store_c"),
            )
            assert (before, after) == (8, 8)
            dst = spark.table("mh_cid_dst_t")
            assert "page_id" in dst.columns
            assert dst.select("page_id").distinct().count() == 2
        finally:
            for t in ("mh_cid_src_t", "mh_cid_dst_t"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestIncrementalSimhashDedup:
    """incremental_simhash_dedup: the Hamming member of the gate family.
    Fixture hamming distances (deterministic md5 SimHash, 32 bits):
    one-word substitutions of BASE land at 0-3 bits; unrelated docs at
    14-15 -- max_hamming=3 separates them with margin, and pigeonhole
    banding makes the within-distance recall EXACT."""

    BASE = ("the quick brown fox jumps over the lazy dog while the band "
            "plays on and the crowd cheers loudly in the warm summer "
            "evening air near the lake")
    NOVEL = ("completely different content about spark catalyst optimizer "
             "rules and tungsten whole stage code generation for volcano "
             "style iterators")
    NOVEL2 = ("another unrelated document describing parquet column chunk "
              "statistics predicate pushdown and row group pruning "
              "behaviour in modern engines")

    def _mk(self, spark, rows):
        from pyspark.sql import Row
        return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])

    def _seed(self, spark, table, tmp_path):
        from data_stream_flink_user_address_spark.functions.dedup import (
            build_simhash_band_store,
        )
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        build_simhash_band_store(
            self._mk(spark, [(0, self.BASE), (1, self.NOVEL)]),
            table, str(tmp_path / "store"), n_buckets=4, epoch=-1,
        )

    def test_gate_and_within_batch_cluster(self, spark, tmp_path):
        from data_stream_flink_user_address_spark.functions.dedup import (
            incremental_simhash_dedup,
        )
        self._seed(spark, "sh_store_fn_t", tmp_path)
        try:
            batch = self._mk(spark, [
                (100, self.BASE.replace("warm", "cold")),  # h=2 of store 0: drop
                (101, self.NOVEL2),                        # novel: keep
                (102, self.NOVEL2.replace("modern", "legacy")),  # h=3 of 101: drop
            ])
            out = incremental_simhash_dedup(batch, "sh_store_fn_t")
            got = {r.doc_id for r in out.collect()}
            assert got == {101}
            assert set(out.columns) == {"doc_id", "simhash"}
        finally:
            spark.sql("DROP TABLE IF EXISTS sh_store_fn_t")

    def test_epoch_replay_and_streaming(self, spark, tmp_path):
        from data_stream_flink_user_address_spark.functions.dedup import (
            _simhash_gate,
            compact_simhash_band_store,
        )
        self._seed(spark, "sh_replay_fn_t", tmp_path)
        out = str(tmp_path / "out")
        try:
            b1 = self._mk(spark, [
                (100, self.NOVEL2),
                (101, self.NOVEL2.replace("modern", "legacy")),
            ])
            for _ in range(2):  # replay excludes its own appends
                _simhash_gate(
                    "sh_replay_fn_t", out, "text", "doc_id", 32, 3,
                )(b1, 0)
            rows = spark.read.parquet(out).collect()
            assert sorted((r.doc_id, r["__epoch"]) for r in rows) == [(100, 0)]
            # later epoch gates against epoch 0's survivor
            b2 = self._mk(spark, [
                (200, self.NOVEL2.replace("pruning", "skipping")),  # near 100
                (201, "a wholly fresh text on shuffle partition coalescing "
                      "and adaptive skew split behaviour at runtime"),
            ])
            _simhash_gate(
                "sh_replay_fn_t", out, "text", "doc_id", 32, 3,
            )(b2, 1)
            rows = spark.read.parquet(out).collect()
            assert sorted((r.doc_id, r["__epoch"]) for r in rows) == [
                (100, 0), (201, 1),
            ]
            # compaction collapses the replay duplicates (4 bands/doc):
            # 2 seed + 100 (doubled) + 201 -> 4 docs x 4 bands
            before, after = compact_simhash_band_store(
                spark, "sh_replay_fn_t", "sh_replay_fn_c_t",
                str(tmp_path / "store_c"),
            )
            assert (before, after) == (20, 16)
        finally:
            for t in ("sh_replay_fn_t", "sh_replay_fn_c_t"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_epoch_profile_funnel(self, spark, tmp_path):
        """The SimHash gate shares _write_epoch_profile: replayed epoch
        rewrites its funnel partition."""
        from data_stream_flink_user_address_spark.functions.dedup import (
            _simhash_gate,
        )
        self._seed(spark, "sh_prof_fn_t", tmp_path)
        out = str(tmp_path / "out")
        prof = str(tmp_path / "prof")
        try:
            b1 = self._mk(spark, [
                (100, self.NOVEL2),                               # admitted
                (101, self.NOVEL2.replace("modern", "legacy")),   # near-dup
            ])
            for _ in range(2):
                _simhash_gate(
                    "sh_prof_fn_t", out, "text", "doc_id", 32, 3, profile_path=prof,
                )(b1, 0)
            got = {
                (r.stage, r["__epoch"]): r.n_docs
                for r in spark.read.parquet(prof).collect()
            }
            assert got == {("raw", 0): 2, ("admitted", 0): 1}
        finally:
            spark.sql("DROP TABLE IF EXISTS sh_prof_fn_t")
