"""Write-side layout: partition pruning, row-group stat tightness,
bucketed zero-exchange joins, and compaction file counts."""

import contextlib
import glob
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_stream_flink_user_address_spark.sources import layout
from data_stream_flink_user_address_spark.sources.layout import (
    compact,
    write_bucketed,
    write_partitioned,
)
from data_stream_flink_user_address_spark.sources.tables import load_events

SF = "/root/testdata/sf0.001"


def _plan_of(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_write_prunes_directories(spark, tmp_path):
    out = str(tmp_path / "events_by_type")
    events = load_events(spark, SF)
    write_partitioned(events, out, partition_by=["event_type"], sort_by=["ts"])

    # physical layout: one directory per event_type
    dirs = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(out)
        if d.startswith("event_type=")
    )
    assert len(dirs) >= 3

    read = spark.read.parquet(out).filter(F.col("event_type") == dirs[0])
    plan = _plan_of(read)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:", 1)[1].splitlines()[0]
    assert "event_type" in seg
    n = read.count()
    expect = load_events(spark, SF).filter(F.col("event_type") == dirs[0]).count()
    assert n == expect


def test_sorted_write_tightens_rowgroup_stats(spark, tmp_path):
    import pyarrow.parquet as pq

    out = str(tmp_path / "events_sorted")
    events = load_events(spark, SF)
    write_partitioned(
        events, out, partition_by=["event_type"], sort_by=["ts"],
        max_records_per_file=100,
    )
    # within one partition directory the files must cover disjoint,
    # ordered ts ranges (per-file min/max non-overlap IS the skipping
    # property), and the stats must actually be present -- the writer
    # pins TIMESTAMP_MICROS because legacy INT96 writes no stats at all
    part_dirs = glob.glob(os.path.join(out, "event_type=*"))
    assert part_dirs
    checked = 0
    for d in part_dirs:
        ranges = []
        for fpath in glob.glob(os.path.join(d, "*.parquet")):
            md = pq.ParquetFile(fpath).metadata
            idx = md.schema.names.index("ts")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                assert st is not None and st.has_min_max, fpath
                ranges.append((st.min, st.max))
                checked += 1
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, (d, (lo1, hi1), (lo2, hi2))
    assert checked > len(part_dirs)  # the sort produced multiple splits


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(o, "t_orders_b", "o_custkey", 4, str(tmp_path / "ob"))
        write_bucketed(c, "t_customer_b", "c_custkey", 4, str(tmp_path / "cb"))
        # bucketing removes the per-query shuffle for SHUFFLED joins;
        # at this toy size the planner would broadcast instead (also
        # shuffle-free, but then bucketing proves nothing) -- force the
        # shuffled path the way a 100 TB fact-fact join would take it
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob = spark.table("t_orders_b")
        cb = spark.table("t_customer_b")
        joined = ob.join(cb, ob.o_custkey == cb.c_custkey)
        plan = _plan_of(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == o.join(c, o.o_custkey == c.c_custkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_compact_reduces_file_count(spark, tmp_path):
    src = str(tmp_path / "shattered")
    dest = str(tmp_path / "compacted")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    # simulate a streaming sink's small-file problem
    li.repartition(64).write.parquet(src)
    n_small = len(glob.glob(os.path.join(src, "*.parquet")))
    assert n_small >= 64

    compact(spark, src, dest, target_file_mb=128)
    n_big = len(glob.glob(os.path.join(dest, "*.parquet")))
    assert n_big < n_small / 8
    assert spark.read.parquet(dest).count() == li.count()


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Appending batches that gained a column is the normal life of a
    100 TB table; mergeSchema reads the union, old rows NULL-fill, and
    a plain read still prunes to whichever file's schema it sampled."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, payload string"
    ).write.parquet(out)
    spark.createDataFrame(
        [(3, "c", "en"), (4, "d", "fr")], "id long, payload string, lang string"
    ).write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"id", "payload", "lang"}
    rows = {r.id: r.lang for r in merged.collect()}
    assert rows[1] is None and rows[3] == "en"
    # the new column filters fine across old files (NULL never matches)
    assert merged.filter(F.col("lang") == "en").count() == 1


def test_persisted_codes_quantized_search_scans_only_codes(spark, tmp_path):
    """Production SQ8 layout (VERDICT r8 ask #6): candidate generation
    must scan ONLY the persisted int8 codes table; the float corpus is
    read solely in the rescore stage, joined against the broadcast
    candidate set.

    Plan assertions: the codes-table FileScan's ReadSchema carries
    qvec/scale and NO float embedding column, the float FileScan feeds
    a broadcast join, and the whole plan never cartesians.
    """
    from data_stream_flink_user_address_spark.functions.quantize import (
        quantize_int8_frame,
        quantized_topk,
    )
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    floats_path = str(tmp_path / "emb_floats")
    codes_path = str(tmp_path / "emb_codes")
    # id-sorted float layout: rescore probes by vec_id ranges, so tight
    # row-group id stats are what lets the scan skip most of the table
    emb.repartition(4).sortWithinPartitions("vec_id").write.parquet(floats_path)
    quantize_int8_frame(emb).repartition(4).sortWithinPartitions(
        "vec_id"
    ).write.parquet(codes_path)

    floats = spark.read.parquet(floats_path)
    codes = spark.read.parquet(codes_path)
    queries = floats.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = quantized_topk(
        floats, queries, k=5, dim=64, corpus_quantized=codes
    )
    plan = _plan_of(topk)

    # split the formatted plan into FileScan blocks and locate each table's
    scans = [b for b in plan.split("\n\n") if "Scan parquet" in b]
    codes_scans = [b for b in scans if "emb_codes" in b]
    float_scans = [b for b in scans if "emb_floats" in b]
    assert codes_scans, plan
    assert float_scans, plan
    for b in codes_scans:
        schema_line = b.split("ReadSchema:", 1)[1].splitlines()[0]
        assert "qvec" in schema_line and "scale" in schema_line, schema_line
        assert "embedding" not in schema_line, (
            "stage 1 must not read the float column: " + schema_line
        )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan

    # and the result is the exact float top-k (codes only generate
    # candidates; rescore must restore exact cosines)
    from data_stream_flink_user_address_spark.functions.similarity import (
        brute_force_topk,
    )
    expect = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in brute_force_topk(floats, queries, k=5, dim=64).collect()
    }
    got = {(r.query_id, r.rank): (r.vec_id, r.cosine) for r in topk.collect()}
    assert got == expect


def test_write_bucketed_files_per_bucket_regimes(spark, tmp_path, monkeypatch):
    """r19 parallelism guard: a small frame keeps the r18
    one-file-per-bucket layout, while a frame whose size estimate
    exceeds ``TARGET_FILE_BYTES`` per bucket (the 100 TB ingest's
    escape from the n_buckets writer-task funnel; reached here by
    shrinking the target to 1 byte) emits k files per bucket WITHOUT
    breaking the bucket layout -- the shuffled join on the bucket key
    still plans with no Exchange, because k*n_buckets hash partitions
    refine n_buckets buckets (same murmur3 pmod family)."""
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # default (size-derived k): tiny frame -> exactly n_buckets files
        write_bucketed(o, "t_orders_k1", "o_custkey", 4, str(tmp_path / "k1"))
        k1_files = glob.glob(str(tmp_path / "k1" / "*.parquet"))
        assert len(k1_files) == 4, sorted(k1_files)

        # 1-byte target: k hits its cap, shuffle.partitions / n_buckets
        # writer tasks per bucket, and every row of a bucket still
        # lands in that bucket's files
        monkeypatch.setattr(layout, "TARGET_FILE_BYTES", 1)
        k_cap = -(-int(spark.conf.get("spark.sql.shuffle.partitions")) // 4)
        assert k_cap > 1
        write_bucketed(o, "t_orders_k3", "o_custkey", 4, str(tmp_path / "k3"))
        k3_files = glob.glob(str(tmp_path / "k3" / "*.parquet"))
        assert 4 < len(k3_files) <= 4 * k_cap, sorted(k3_files)

        write_bucketed(c, "t_customer_k3", "c_custkey", 4, str(tmp_path / "ck3"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob = spark.table("t_orders_k3")
        cb = spark.table("t_customer_k3")
        joined = ob.join(cb, ob.o_custkey == cb.c_custkey)
        plan = _plan_of(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == o.join(c, o.o_custkey == c.c_custkey).count()
        # row content identical across regimes
        assert (
            spark.table("t_orders_k1").orderBy("o_orderkey").collect()
            == ob.orderBy("o_orderkey").collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        for t in ("t_orders_k1", "t_orders_k3", "t_customer_k3"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_write_bucketed_falls_back_to_one_file_per_bucket(spark, tmp_path, monkeypatch):
    """The size estimate goes through the private ``df._jdf`` handle;
    when it raises, the write still succeeds with k=1 -- one file per
    bucket -- even where the estimate would have asked for more files
    (a 1-byte target makes the estimate-driven k hit its cap)."""
    from py4j.protocol import Py4JError

    o = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_custkey")

    class _NoEstimate:
        def __init__(self, jdf):
            self._jdf = jdf

        def queryExecution(self):
            raise Py4JError("size estimate unavailable")

        def __getattr__(self, name):
            return getattr(self._jdf, name)

    monkeypatch.setattr(layout, "TARGET_FILE_BYTES", 1)
    try:
        write_bucketed(o, "t_orders_est", "o_custkey", 2, str(tmp_path / "est"))
        assert len(glob.glob(str(tmp_path / "est" / "*.parquet"))) > 2

        o._jdf = _NoEstimate(o._jdf)
        write_bucketed(
            o, "t_orders_noest", "o_custkey", 2, str(tmp_path / "noest")
        )
        files = glob.glob(str(tmp_path / "noest" / "*.parquet"))
        assert len(files) == 2, sorted(files)
        assert spark.table("t_orders_noest").count() == o.count()
    finally:
        for t in ("t_orders_est", "t_orders_noest"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
