"""Corpus profiling (functions/profile.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from data_stream_flink_user_address_spark.functions.profile import (
    corpus_profile,
    profile_funnel,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_global_profile_exact_fields(spark, docs):
    got = corpus_profile(docs).collect()[0]
    want = duckdb.sql(
        f"""
        SELECT count(*) AS n,
               sum(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))) AS toks,
               sum(len(text)) AS chars,
               min(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))) AS mn,
               max(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))) AS mx
        FROM read_parquet('{SF}/documents.parquet')
        WHERE TRUE
        """
    ).fetchone()
    assert got.n_docs == want[0]
    assert got.total_chars == want[2]
    assert got.min_tokens == want[3]
    assert got.max_tokens == want[4]
    assert got.n_empty_docs == 0
    assert len(got.token_percentiles) == 3


def test_dup_rate_sees_planted_duplicates(spark):
    rows = [(i, "identical text body") for i in range(50)] + [
        (100 + i, f"unique body number {i}") for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = corpus_profile(df).collect()[0]
    # 51 distinct contents out of 100 docs; HLL error ~2%
    assert got.approx_dup_rate == pytest.approx(0.49, abs=0.05)


def test_exact_distinct_mode_is_exact(spark):
    """exact_distinct=True must swap the HLL for count_distinct: on 100
    docs with 51 distinct contents the dup rate is EXACTLY 0.49 (the
    retired corpus_report's countDistinct semantics, R16 fold) -- and
    the mode threads through profile_funnel."""
    rows = [(i, "identical text body") for i in range(50)] + [
        (100 + i, f"unique body number {i}") for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = corpus_profile(df, exact_distinct=True).collect()[0]
    assert got.approx_distinct_docs == 51
    assert got.approx_dup_rate == 0.49
    frows = profile_funnel({"all": df}, exact_distinct=True).collect()
    assert frows[0].approx_distinct_docs == 51


def test_by_group_breakdown(spark, docs):
    rows = corpus_profile(docs, by="source").collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    assert [r.source for r in rows] == sorted(r.source for r in rows)


def test_empty_docs_counted(spark):
    df = spark.createDataFrame([(1, ""), (2, "  "), (3, "one two")], ["doc_id", "text"])
    got = corpus_profile(df).collect()[0]
    assert got.n_empty_docs == 2


def test_funnel_ordering_and_counts(spark, docs):
    half = docs.filter(F.col("doc_id") % 2 == 0)
    out = profile_funnel({"raw": docs, "halved": half}).collect()
    assert [r.stage for r in out] == ["raw", "halved"]
    assert out[0].n_docs == docs.count()
    assert out[1].n_docs == half.count()


def test_funnel_empty_raises():
    with pytest.raises(ValueError):
        profile_funnel({})


def test_profile_two_phase_aggregate(docs):
    """Map-side combine must collapse each partition to one row per
    group before the exchange (the narrow-shuffle claim)."""
    plan = corpus_profile(docs, by="source")._jdf.queryExecution().executedPlan().toString()
    assert "partial_" in plan  # partial aggregation present
    assert plan.index("partial_") > plan.index("Exchange")  # below the exchange


class TestStreamingProfile:
    def test_epoch_replay_idempotent(self, spark, tmp_path):
        from data_stream_flink_user_address_spark.functions.profile import (
            _profile_epoch,
        )

        out = str(tmp_path / "out")
        batch = spark.createDataFrame(
            [(1, "a b c"), (2, "d e")], ["doc_id", "text"]
        )
        _profile_epoch(batch, 0, out, "text", "doc_id")
        _profile_epoch(batch, 0, out, "text", "doc_id")  # replay
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 1
        assert rows[0].n_docs == 2 and rows[0].total_tokens == 5

    def test_flat_layout_rejected(self, spark, tmp_path):
        from data_stream_flink_user_address_spark.functions.profile import (
            streaming_profile,
        )

        out = str(tmp_path / "flat")
        spark.createDataFrame([(1, "x")], ["doc_id", "text"]).write.parquet(out)
        stream = spark.readStream.format("rate").load()
        with pytest.raises(ValueError, match="flat-append"):
            streaming_profile(stream, out, str(tmp_path / "ck"))

    def test_streaming_end_to_end(self, spark, tmp_path):
        import json as _json
        import os as _os

        from pyspark.sql import types as T

        from data_stream_flink_user_address_spark.functions.profile import (
            streaming_profile,
        )

        src = str(tmp_path / "src")
        _os.makedirs(src)
        out = str(tmp_path / "out")
        schema = T.StructType(
            [T.StructField("doc_id", T.LongType()),
             T.StructField("text", T.StringType())]
        )
        with open(_os.path.join(src, "b1.json"), "w") as f:
            f.write(_json.dumps({"doc_id": 1, "text": "one two three"}) + "\n")
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).json(src)
        q = streaming_profile(stream, out, str(tmp_path / "ck"))
        try:
            q.processAllAvailable()
            with open(_os.path.join(src, "b2.json"), "w") as f:
                f.write(_json.dumps({"doc_id": 2, "text": "four five"}) + "\n")
                f.write(_json.dumps({"doc_id": 3, "text": "six"}) + "\n")
            q.processAllAvailable()
            q.stop()
            rows = {r["__epoch"]: r for r in spark.read.parquet(out).collect()}
            assert rows[0].n_docs == 1 and rows[0].total_tokens == 3
            assert rows[1].n_docs == 2 and rows[1].total_tokens == 3
        finally:
            q.stop()


class TestTopTerms:
    def test_global_counts_exact(self, spark):
        from data_stream_flink_user_address_spark.functions.profile import (
            top_terms,
        )

        df = spark.createDataFrame(
            [(1, "a b a C c a"), (2, "b c A x")], ["doc_id", "text"]
        )
        got = [(r.term, r.n) for r in top_terms(df, k=3).collect()]
        assert got == [("a", 4), ("c", 3), ("b", 2)]

    def test_per_group_rank(self, spark):
        from data_stream_flink_user_address_spark.functions.profile import (
            top_terms,
        )

        df = spark.createDataFrame(
            [("s1", "x x y"), ("s2", "z z z y")], ["source", "text"]
        )
        got = [
            (r.source, r.term, r.n, r.rank)
            for r in top_terms(df, k=1, by="source").collect()
        ]
        assert got == [("s1", "x", 2, 1), ("s2", "z", 3, 1)]

    def test_group_limit_plan(self, spark):
        from data_stream_flink_user_address_spark.functions.profile import (
            top_terms,
        )

        df = spark.createDataFrame([("s", "a b")], ["source", "text"])
        plan = (
            top_terms(df, k=2, by="source")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "WindowGroupLimit" in plan


class TestCorpusDiff:
    def test_planted_statuses(self, spark):
        from pyspark.sql import Row

        from data_stream_flink_user_address_spark.functions.profile import (
            corpus_diff,
        )

        old = spark.createDataFrame([
            Row(doc_id=1, text="alpha beta"),
            Row(doc_id=2, text="gamma"),
            Row(doc_id=3, text="delta"),          # removed in new
            Row(doc_id=4, text=None),             # NULL -> NULL: unchanged
            Row(doc_id=5, text=None),             # NULL -> text: changed
        ])
        new = spark.createDataFrame([
            Row(doc_id=1, text="alpha   beta "),  # ws-normalized: unchanged
            Row(doc_id=2, text="gamma edited"),   # changed
            Row(doc_id=4, text=None),
            Row(doc_id=5, text="now present"),
            Row(doc_id=6, text="brand new"),      # added
        ])
        got = {
            r.doc_id: r.status for r in corpus_diff(old, new).collect()
        }
        assert got == {
            1: "unchanged", 2: "changed", 3: "removed",
            4: "unchanged", 5: "changed", 6: "added",
        }

    def test_fingerprint_col_reuse(self, spark):
        """A precomputed fingerprint column skips the text scan -- the
        store-reuse path (e.g. incremental exact-dedup fingerprints)."""
        from pyspark.sql import Row

        from data_stream_flink_user_address_spark.functions.profile import (
            corpus_diff,
        )

        old = spark.createDataFrame([Row(doc_id=1, fp="aa"), Row(doc_id=2, fp="bb")])
        new = spark.createDataFrame([Row(doc_id=1, fp="aa"), Row(doc_id=2, fp="XX")])
        got = {
            r.doc_id: r.status
            for r in corpus_diff(old, new, fingerprint_col="fp").collect()
        }
        assert got == {1: "unchanged", 2: "changed"}

    def test_text_never_in_exchange(self, spark):
        """The diff's join exchange carries (id, fp) only: the text
        column must not appear in the physical plan past the project."""
        from pyspark.sql import Row

        from data_stream_flink_user_address_spark.functions.profile import (
            corpus_diff,
        )

        old = spark.createDataFrame([Row(doc_id=1, text="alpha")])
        new = spark.createDataFrame([Row(doc_id=1, text="alpha")])
        plan = (
            corpus_diff(old, new)
            ._jdf.queryExecution().executedPlan().toString()
        )
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "text" not in line, line
