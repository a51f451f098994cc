"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Query inventory (SURVEY.md SS2 + BASELINE.json north-star extensions):

Reference parity (operators of the Flink job, FIXTURES.md SS6 mapping --
customer plays user, orders plays address, events plays the Kafka stream):
  user_address_counts, count_by_state, count_by_country,
  windowed_count_by_type, stateful_join_trace, windowed_trace_inflation

Relational breadth (standard OLAP surface on the same engine):
  the TPC-H 22, cube/grouping-sets/pivot, window analytics, set ops,
  interval/asof/session temporal joins, SCD2, events JSON extraction

LLM-data-pipeline extensions (examples; see QUERIES for the registry):
  doc_signals, dedup_exact, fuzzy_dedup_keep, ngram_jaccard_pairs,
  substring_dup_spans, embedding_near_dup_lsh, similarity_topk,
  similarity_ivf_trained, multimodal_meta, nb_quality_scores,
  incremental_minhash_gate, pack_bins_report, crawl_frontier_gate,
  domain_pagerank_ranks, corpus_diff_status, curriculum_assignment,
  profile_funnel, unigram_lm_tokens, pack_bins_exact_roundtrip,
  sft_pack_spans, substring_dedup_cut

Column-name discipline: every computed column is aliased identically in
the Spark code and the oracle SQL.  Doubles are rounded in BOTH engines;
timestamps are emitted as formatted strings; md5-derived hashes use the
same 15-hex-digit -> bigint construction on both sides.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_stream_flink_user_address_spark.functions.dedup import (
    dedup_clusters,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures_text,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup_pairs,
    substring_dup_spans,
    substring_dedup,
    embedding_near_dup_pairs,
    paragraph_dedup,
    boilerplate_line_dedup,
    build_fingerprint_store,
    incremental_exact_dedup,
    build_minhash_band_store,
    cross_corpus_decontaminate,
    incremental_minhash_dedup,
)
from data_stream_flink_user_address_spark.functions.similarity import (
    brute_force_topk,
    ivf_topk,
    make_planes,
    round_half_away,
    train_ivf_centroids,
    vec_is_finite,
)
from data_stream_flink_user_address_spark.functions.chat import (
    conversation_turns,
    pack_conversations_with_spans,
    parse_conversations,
)
from data_stream_flink_user_address_spark.functions.embedding import (
    embedding_moments,
)
from data_stream_flink_user_address_spark.functions.semantic import (
    assign_to_centroids,
    semantic_dedup,
)
from data_stream_flink_user_address_spark.functions.sampling import (
    cluster_stratified_sample,
    per_source_cap,
    quality_bucket_cuts,
    quality_stratified_buckets,
    token_budget_mixture,
)
from data_stream_flink_user_address_spark.functions.quantize import (
    quantize_int8_frame,
    quantized_topk,
)
from data_stream_flink_user_address_spark.functions.pq import (
    build_ivfpq_index,
    ivfpq_topk,
    pq_codebooks,
    pq_encode,
    pq_topk,
    train_pq_codebooks,
)
from data_stream_flink_user_address_spark.functions.retrieval import (
    bm25_topk,
    rrf_fuse,
)
from data_stream_flink_user_address_spark.functions.classifier import (
    apply_nb_quality,
    hashed_ngram_features,
    train_nb_quality,
)
from data_stream_flink_user_address_spark.functions.graph import (
    connected_components,
    domain_pagerank,
)
from data_stream_flink_user_address_spark.functions.ordering import (
    curriculum_order,
    epoch_shuffle,
)
from data_stream_flink_user_address_spark.functions.profile import (
    corpus_diff,
    profile_funnel_shared,
    top_terms,
)
from data_stream_flink_user_address_spark.functions.unigram_lm import (
    UNK_LOGPROB_OFFSET as _ulm_unk_offset,
    unigram_lm_encode,
    unigram_lm_train,
)
from data_stream_flink_user_address_spark.functions.web import (
    domain_of,
    filter_blocked_domains,
    filter_robots_allowed,
    normalize_url,
    parse_sitemaps,
)
from data_stream_flink_user_address_spark.functions.packing import (
    chunk_manifest,
    histogram_pack,
    pack_bins_exact,
)
from data_stream_flink_user_address_spark.functions.curation import (
    gopher_quality_flags,
    ngram_contamination,
    pii_redact,
    repetition_stats,
)
from data_stream_flink_user_address_spark.functions.multimodal import (
    attach_binary_payload,
    audio_fingerprint,
    extract_audio_features,
    extract_media_meta,
    phash_images,
    pixel_roundtrip_check,
    synthesize_group_images,
    synthesize_group_wavs,
    synthesize_square_wavs,
)
from data_stream_flink_user_address_spark.functions.sampling import (
    importance_resample,
    leakage_free_split,
    mixture_sample,
    upsample,
)
from data_stream_flink_user_address_spark.functions.text import (
    BPE_SPLIT_PATTERN,
    STOPWORDS,
    bpe_token_count,
    doc_fingerprint,
    language_id,
    lower_ascii,
    quality_score,
    round_parity,
    stupid_backoff_scores,
    token_count,
    tokens,
    bpe_apply,
    bpe_train_and_encode,
    extract_main_content,
    normalize_unicode,
    strip_markup,
    winnow_fingerprint,
)
from data_stream_flink_user_address_spark.operators.asof import asof_join
from data_stream_flink_user_address_spark.operators.scd2 import scd2_apply
from data_stream_flink_user_address_spark.operators.interval import interval_join
from data_stream_flink_user_address_spark.operators.join import user_address_snapshot
from data_stream_flink_user_address_spark.operators.windows import tumbling_window_count
from data_stream_flink_user_address_spark.sources.tables import load_table as _t_load
from data_stream_flink_user_address_spark.streaming.stateful_join import (
    batch_emission_trace,
)

SF0001 = "/root/testdata/sf0.001"

# LSH config shared by engine call and oracle SQL
_MINHASH_K = 16
_LSH_BANDS = 4
_LSH_ROWS = 4
_SIMHASH_BITS = 32
_ANN_PLANES = 6
_ANN_TABLES = 8
_EMB_DIM = 64
# IVF coarse quantizer: every 31st corpus vector is a centroid (~n/31
# lists; stride ~ sqrt(n) balances assignment fan-out vs list length at
# a given n -- 31 suits the 1e3..1e4 test corpora), 3 lists probed per
# query.
_IVF_STRIDE = 31
# PQ: 8 subspaces x 8 dims, 32-entry codebooks seeded every 15th vector
# (vec_id < 480 exists at every sf), candidate pool k*16
_PQ_M = 8
_PQ_KSUB = 32
_PQ_STRIDE = 15
_PQ_EXPAND = 16
_BM25_TERMS = ["hash", "join", "scan"]
_IVF_NPROBE = 3
# IVF-PQ coarse centroid COUNT cap: a fixed k_cent makes the index
# build O(n * k_cent) -- linear -- where the uncapped n/31 stride
# sample made it O(n^2/31) (TOPK_SCALE.json's measured 9.4 -> 66 -> 335
# s superlinear build growth).  64 lists suit the 1e3..1e5 test
# corpora; size ~ sqrt(n) in production.
_IVF_KCENT = 64
# centroid TRAINING sample bound (vec_id < limit, ~100 pts/centroid):
# keeps Lloyd rounds constant-size so an index build pays exactly one
# full-corpus assignment pass.  Mirrored literally in the oracle's
# assignment CTE.
_IVF_TRAIN_LIMIT = 100 * _IVF_KCENT
# r18: the cross-run ANN artifact cache (and its version key) is gone --
# the optimization contract forbids persisted intermediates keyed on the
# test data, so every invocation trains/builds what it consumes.
# Stop-shingle pruning for the declared ngram-Jaccard query: shingles in
# more than this many docs are dropped from CANDIDATE GENERATION (the
# per-shingle self-join is bounded at <= vocab * cap^2 rows -- the knob
# that keeps the operator linear-ish at 100 TB instead of quadratic on
# hot shingles).  Every candidate pair is then RESCORED over its full
# shingle sets, so emitted jaccard values are exact; pruning costs
# recall only -- a pair sharing exclusively corpus-common shingles is
# never considered.  On the synthetic word-salad corpus (~2k distinct
# 5-gram shingles, median doc-frequency 31 at sf0.01) that recall loss
# is deliberate; the exhaustive variant remains available as
# ngram_jaccard_pairs(max_shingle_freq=None).
_NGRAM_MAX_DF = 100


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _t_load(spark, sf_dir, name)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread across cores: the table arrives as ONE small
    parquet split, and every consumer below it is compute-bound
    (shingling / hashing / token math) -- without the respread the whole
    pipeline runs single-core (sources/tables.py:load_table)."""
    return _t_load(spark, sf_dir, "documents", spread=True)


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings, spread across cores (same single-split rationale)."""
    return _t_load(spark, sf_dir, "embeddings", spread=True)


def _embs_finite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-vector subset of embeddings -- for the queries whose
    operators REQUIRE finite input (moments raise on NaN/Inf; the PQ
    fixed-point encode would CAST_OVERFLOW under ANSI).  Lock-step with
    the oracle-side ``embeddings_f`` CTE injected by
    :func:`_require_finite_embeddings`.  A no-op on the committed
    corpus (all vectors finite)."""
    return _embs(spark, sf_dir).filter(vec_is_finite("embedding"))


def _utc(spark: SparkSession) -> None:
    """Pin session TZ for timestamp->string rendering.

    The driver owns the SparkSession and may not run UTC; DuckDB
    timestamps are UTC-naive, so every query that formats a timestamp
    pins the session timezone first (runtime-settable conf).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _customer_as_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer -> USER_SCHEMA-shaped frame (FIXTURES.md SS6 mapping)."""
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("id"),
        F.col("c_name").alias("name"),
        F.concat(F.col("c_name"), F.lit("@example.com")).alias("email"),
        F.col("c_mktsegment").alias("genre"),
        F.lit(None).cast("timestamp").alias("registerDate"),
    )


def _orders_as_addresses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> ADDRESS_SCHEMA-shaped frame: o_orderpriority plays state,
    o_orderstatus plays country (N rows per customer key)."""
    return _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("userId"),
        F.col("o_orderkey").cast("string").alias("address"),
        F.lit(None).cast("string").alias("city"),
        F.col("o_orderpriority").alias("state"),
        F.col("o_totalprice").cast("string").alias("zipCode"),
        F.col("o_orderstatus").alias("country"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's centerpiece join -- final-snapshot
    UserAddress (left join + collect_list struct) on sf0.001."""
    users = _customer_as_users(spark, SF0001)
    addresses = _orders_as_addresses(spark, SF0001)
    return user_address_snapshot(users, addresses)


# ===========================================================================
# Reference-parity queries
# ===========================================================================


def _q_user_address_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final-snapshot join, scalar projection: address count per user
    (reference Dto/UserAddress.java shape; array sizes instead of the
    nested array so the oracle hash is representation-independent)."""
    snap = user_address_snapshot(
        _customer_as_users(spark, sf_dir), _orders_as_addresses(spark, sf_dir)
    )
    return snap.select(
        F.col("userId").cast("bigint").alias("user_key"),
        F.col("userName").alias("user_name"),
        F.size("addresses").cast("bigint").alias("n_addresses"),
    )


def _count_by_dim(spark: SparkSession, sf_dir: str, dim: str, alias: str) -> DataFrame:
    """W1/W2 analog: count address occurrences by a dimension over the
    joined stream (Main.java:136-150).

    Hand-applied logical rewrite: the pipeline shape is
    snapshot (collect_list per user) -> explode -> count, but
    explode(collect_list(x)) == x row-for-row, so the plan collapses to
    addresses INNER JOIN users -> count(dim) -- identical output (the
    snapshot join is user-driving/left-outer, and address rows with no
    user never reach the emission stream), one less shuffle, and no
    array materialization.  Catalyst cannot see this equivalence through
    the aggregate; the engine applies it at plan-construction time.
    The un-rewritten shape remains exercised by user_address_counts and
    the streaming pipeline (plans/pipeline.py).

    No broadcast hint: the probe side is the USER table, which at 100x
    scale does not fit executor memory -- a forced broadcast would OOM
    where an AQE-chosen strategy degrades to a shuffle join.  The
    left-semi probe carries only the ``id`` column, so
    autoBroadcastJoinThreshold picks broadcast whenever it actually
    fits (plan-asserted: no cartesian, tests/test_plan_shapes.py)."""
    users = _customer_as_users(spark, sf_dir).select("id")
    addresses = _orders_as_addresses(spark, sf_dir)
    return (
        addresses.join(users, addresses.userId == users.id, "left_semi")
        .groupBy(F.col(dim).alias(alias))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _q_count_by_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _count_by_dim(spark, sf_dir, "state", "state")


def _q_count_by_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _count_by_dim(spark, sf_dir, "country", "country")


def _q_windowed_count_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-minute window count by event_type on the stream table
    (reference 1-min TumblingProcessingTimeWindows, Main.java:137,154).

    r13: absorbs the retired ``windowed_value_sum`` query -- the
    ``total_value`` sum rides the SAME single hash aggregate (one scan,
    one shuffle), so the registry sheds a whole-query duplicate scan
    while keeping the sum-aggregation semantics oracle-checked."""
    _utc(spark)
    events = _t(spark, sf_dir, "events")
    counted = tumbling_window_count(
        events, "ts", "event_type", "1 minute", "cnt",
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return counted.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "cnt",
        "total_value",
    )


def _q_stateful_join_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The centerpiece stateful join's EMISSION TRACE, batch-verifiable.

    Exact per-event semantics of reference Main.java:104-132 driven over
    customer (seq=0) + orders (seq=o_orderkey): user emission with 0
    addresses, then the i-th address emission carries i addresses."""
    users = _customer_as_users(spark, sf_dir).withColumn("seq", F.lit(0).cast("long"))
    addresses = (
        _orders_as_addresses(spark, sf_dir)
        .withColumn("seq", F.col("address").cast("long"))
    )
    trace = batch_emission_trace(users, addresses)
    return trace.select(
        F.col("userId").cast("bigint").alias("user_key"),
        F.col("seq"),
        F.size("addresses").cast("bigint").alias("n_addresses"),
    )


def _q_windowed_trace_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window count by state OVER THE EMISSION STREAM -- the
    reference's actual window input (Main.java:136-150 consumes the
    join's output, not the raw address stream), which is INFLATED by
    per-event snapshot re-emission: every emission carries the user's
    full address list so far, so an address is re-counted once per
    later emission of the same user (SURVEY.md SS2.4 note a).

    The trace is driven by the real ``batch_emission_trace`` operator
    (customer seq=0, orders seq=o_orderkey); each emission is
    timestamped with its triggering order's o_orderdate and counted in
    epoch-aligned 30-day tumbling windows (``F.window``), making the
    reference's processing-time inflation deterministic and
    SQL-checkable.  Scale shape: explode + one shuffle join on seq +
    one windowed agg; no driver participation, no array rebuild per
    snapshot (the trace operator shares prefix slices)."""
    _utc(spark)
    users = _customer_as_users(spark, sf_dir).withColumn("seq", F.lit(0).cast("long"))
    addresses = (
        _orders_as_addresses(spark, sf_dir)
        .withColumn("seq", F.col("address").cast("long"))
    )
    trace = batch_emission_trace(users, addresses)
    emit_times = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("seq"),
        F.col("o_orderdate").alias("emit_ts"),
    )
    exploded = trace.withColumn("addr", F.explode("addresses")).join(emit_times, "seq")
    return (
        exploded.groupBy(
            F.window("emit_ts", "30 days").alias("win"),
            F.col("addr.state").alias("state"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "state",
            "cnt",
        )
    )


# ===========================================================================
# Relational breadth
# ===========================================================================


def _q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
        ).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


def _q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    cutoff = "1996-03-15"
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


def _q_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


def _q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def _q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 adapted (no partsupp): a supplier's "cost" for a part
    is their minimum observed unit sale price in lineitem.  For LARGE
    parts of size <= 15, emit the supplier(s) achieving each part's
    global minimum -- the correlated-min subquery decorrelated into a
    per-part aggregate joined back on (part, price)."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 15)
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    offers = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        # unit_cost stays RAW: the division produces bit-identical
        # doubles in both engines, and rounding to 4 decimals put
        # boundary values (x.xxxx4999...) on different sides of the
        # engines' decimal-rounding implementations at sf0.1.
        # NULL-when-zero quantity: a zero-quantity line has no unit
        # cost -- NULL in DuckDB's division, a job-killing
        # DIVIDE_BY_ZERO under Spark ANSI; min skips the NULL in both
        # engines (relational degenerate sweep)
        .agg(
            F.min(
                F.col("l_extendedprice")
                / F.when(F.col("l_quantity") != 0, F.col("l_quantity"))
            ).alias("unit_cost")
        )
    )
    best = offers.groupBy(F.col("l_partkey").alias("bk")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    return (
        offers.join(
            best,
            (offers.l_partkey == best.bk) & (offers.unit_cost == best.best_cost),
        )
        .join(s, offers.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_name",
            "n_name",
            "unit_cost",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
    )


def _q_q11_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adapted (no partsupp): per-part revenue from NATION_5
    suppliers, keeping parts above 0.1% of that nation's total -- the
    HAVING-vs-global-scalar shape, threshold broadcast as a 1-row
    frame."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    val = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "part_value"
            )
        )
    )
    tot = val.agg((0.001 * F.sum("part_value")).alias("__thresh"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") > F.col("__thresh"))
        .select("l_partkey", "part_value")
    )


def _q_q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted: distinct-supplier counts per (brand, type,
    size) over the supplier-part relationships OBSERVED in lineitem
    (partsupp's role), excluding one brand and 'complaint' suppliers
    (negative account balance plays the comment-scan exclusion)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5") & (F.col("p_size").isin(1, 4, 9, 14, 19, 23))
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    rel = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return rel.groupBy("p_brand", "p_type", "p_size").agg(
        F.count(F.lit(1)).alias("supplier_cnt")
    )


def _q_q20_promo_heavy_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adapted (no partsupp availqty): NATION_6 suppliers
    whose 1997 PROMO-part shipped quantity exceeds 22% of their total
    1997 shipped quantity (PROMO is one of six part types, so the
    original's one-half cut is unreachable; 22% sits at the observed
    90th percentile and selects genuinely promo-heavy suppliers) -- per-supplier conditional aggregate feeding
    a left-semi join on the supplier dimension."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_6")
    per_supp = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", F.col("l_quantity")).otherwise(0.0)).alias(
                "promo_qty"
            ),
            F.sum("l_quantity").alias("total_qty"),
        )
        .filter(F.col("promo_qty") > 0.22 * F.col("total_qty"))
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(per_supp, s.s_suppkey == per_supp.l_suppkey, "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
    )


def _q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (EXISTS -> left-semi join).  The slimmed lineitem has no
    commit/receipt dates, so "late" is adapted to: some line shipped
    more than 90 days after the order date.  The semi join hashes on
    the equi key (l_orderkey) with the interval predicate as a
    post-probe filter -- no cartesian, orders side never duplicated."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    late = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def _q_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by ship
    year.  Nation dims broadcast twice under different aliases; the
    disjunctive nation-pair predicate lands after both broadcasts, so
    the big fact joins stay equi-key hash joins."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


def _q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's supplier share of STANDARD-part volume sold
    into the EUROPE customer region, by order year.  The share is a
    conditional-aggregate ratio -- one grouped pass, no second join
    against a subtotal."""
    _utc(spark)
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("c_rkey")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("c_rkey") == F.col("r_regionkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("sn_key"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


def _q_q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted: no partsupp table, so supply cost is modeled as
    half the part's retail price (profit = disc. revenue -
    0.5 * p_retailprice * l_quantity) for parts whose name contains
    'PROMO' substring filter analog (p_type = 'PROMO')."""
    _utc(spark)
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    # profit terms cancel (revenue minus cost), so double-sum ordering
    # can flip the cent rounding between engines -- accumulate in exact
    # decimal instead (order-independent), round, then return double
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(24,4)")
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    return joined.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
    ).agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))


def _q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top 20 customers by revenue lost to returns in one
    quarter.  Deterministic top-N: ties break on c_custkey."""
    _utc(spark)
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
    )


def _q_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted (no l_shipmode/receipt dates): for lines
    shipped >90 days after their order date in 1997, count
    high-priority (1-URGENT/2-HIGH) vs lower-priority orders per line
    status -- the conditional-aggregate shape of the original."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = _t(spark, sf_dir, "orders")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
    )


def _q_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of customers by order count, INCLUDING
    zero-order customers (left outer join, count of the nullable key)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def _q_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: PROMO-part share of one month's revenue, as a
    conditional-aggregate percentage over a broadcast part join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = _t(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("promo_revenue_pct")
        )
    )


def _q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue.  The
    scalar max is a 1-row aggregate broadcast back over the revenue
    frame (an empty-partition window would single-partition the whole
    per-supplier frame -- the per-group cardinality at 100x scale makes
    that a real funnel); revenue rounds to 2 digits BEFORE the max
    comparison so both engines pick identical winners."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    top = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue") == F.col("__mx")
    )
    s = _t(spark, sf_dir, "supplier")
    return top.join(s, top.supplier_no == s.s_suppkey).select(
        "s_suppkey", "s_name", "total_revenue"
    )


def _q_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: average yearly revenue lost if small-quantity orders
    (below half the part's average quantity) for one brand's small
    parts were not filled.  The correlated per-part avg decorrelates to
    a grouped aggregate joined back on partkey."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
    )
    li = _t(spark, sf_dir, "lineitem")
    branded = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    avg_qty = branded.groupBy(F.col("l_partkey").alias("ak")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        branded.join(F.broadcast(avg_qty), branded.l_partkey == avg_qty.ak)
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def _q_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers whose single orders exceed 250 total units
    (the HAVING-IN shape: qualifying orderkeys from a grouped filter,
    then the detail join)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
    )


def _q_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue from three disjunctive brand/size/quantity
    branches.  The OR-of-ANDs predicate sits on one broadcast-joined
    scan -- Catalyst pushes the common l_quantity bounds and the part
    prefilter (brand IN ...) into the scans."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    b1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 5))
        & (F.col("l_quantity").between(1, 11))
    )
    b2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(1, 10))
        & (F.col("l_quantity").between(10, 20))
    )
    b3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(20, 30))
    )
    return j.filter(b1 | b2 | b3).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


def _q_q21_sole_blame_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted (no receipt/commit dates): suppliers whose
    line is the ONLY returned ('R') line in a multi-supplier order --
    EXISTS (another supplier in the order) + NOT EXISTS (another
    supplier's returned line), i.e. a left-semi and a left-anti
    self-join on l_orderkey with a suppkey inequality residual."""
    li = _t(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    cand = l1.join(
        l2, (l1.l_orderkey == l2.o2) & (l1.l_suppkey != l2.s2), "left_semi"
    )
    sole = cand.join(
        l3, (cand.l_orderkey == l3.o3) & (cand.l_suppkey != l3.s3), "left_anti"
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    return (
        sole.join(s, sole.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def _q_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted (no c_phone): 'country code' is the customer
    nation key mod 5, and "never ordered" relaxes to "lapsed" (no
    order since 1999 -- at small SF every customer has SOME order, so
    the strict form returns an empty set and proves nothing).  Wealthy
    (above-average positive balance) lapsed customers per code -- a
    broadcast scalar threshold plus a left-anti join."""
    c = _t(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "1999-01-01")
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.pmod(F.col("c_nationkey"), F.lit(5)).cast("int").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def _q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON decode parity with the reference deserializers (S3/S4):
    extract props.k, bucket it, aggregate."""
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.withColumn("k_bucket", k % 10)
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def _q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase event matched to the user's most
    recent view event at-or-before it (operators/asof.py union trick;
    oracle uses DuckDB's native ASOF JOIN).

    Pins UTC: the output exposes ABSOLUTE epoch micros, and since the
    events loader accepts native timestamp[us] (NTZ), the NTZ->TIMESTAMP
    cast resolves wall-clock in the session zone at EXECUTION time -- a
    non-UTC driver session would shift every emitted epoch by its offset
    (caught by the verify skill's TZ probe).  Gap/interval queries are
    exempt: a uniform shift cancels in differences."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("uid"), "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("uid"), "ts", "value"
    )
    joined = asof_join(purchases, views, on="uid", how="inner", right_prefix="v_")
    return joined.select(
        "event_id",
        F.col("uid").alias("user_id"),
        F.unix_micros("ts").alias("p_ts_us"),
        F.round("value", 2).alias("p_value"),
        F.unix_micros("v_ts").alias("v_ts_us"),
        F.round("v_value", 2).alias("v_value"),
    )


def _q_interval_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: (view, purchase) pairs per user with the purchase
    0..1h after the view (operators/interval.py keyed path: equi-join on
    user + residual time-range filter)."""
    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    joined = interval_join(views, purchases, "ts", "ts", 0.0, 3600.0, on="user_id")
    return joined.select(
        "view_id",
        F.col("r_purchase_id").alias("purchase_id"),
        "user_id",
        ((F.unix_micros("r_ts") - F.unix_micros("ts")) / 1_000_000).cast("bigint").alias("lag_s"),
    )


def _q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status x priority (grouping-sets surface, like rollup)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def _q_running_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit window frame spec: per-customer running revenue total
    (ROWS UNBOUNDED PRECEDING..CURRENT ROW, deterministic tie-break)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


def _q_set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (INTERSECT / EXCEPT) over customer key sets:
    1996-buyers who never placed an urgent order, and the intersection
    of 1996-buyers with urgent-order customers, labeled and unioned."""
    o = _t(spark, sf_dir, "orders")
    buyers_96 = o.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    both = buyers_96.intersect(urgent).withColumn("grp", F.lit("both"))
    only_96 = buyers_96.subtract(urgent).withColumn("grp", F.lit("no_urgent"))
    return (
        both.unionByName(only_96)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def _q_orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery pattern: orders priced >1.5x their own
    customer's average order price.  Expressed as the decorrelated
    window-aggregate plan Catalyst would produce for the subquery."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > 1.5 * F.col("cust_avg"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


def _q_scalar_function_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function library breadth (string/date/math/array/map) --
    the surface the reference entirely lacks (SURVEY.md SS2.6).  One
    deterministic row per nation with string ops, date arithmetic, math,
    array construction/ops, and map access, all JVM expressions."""
    n = _t(spark, sf_dir, "nation")
    arr = F.array_sort(F.split(F.col("n_name"), ""))
    return n.select(
        "n_nationkey",
        F.concat(F.upper(F.substring("n_name", 1, 3)), F.lit("-"), F.lower("n_name")).alias("tag"),
        F.length(F.trim(F.concat(F.lit("  "), F.col("n_name"), F.lit("  ")))).cast("bigint").alias("trimmed_len"),
        F.translate(F.col("n_name"), "AEIOU", "aeiou").alias("demoted"),
        F.date_format(
            F.date_add(F.to_date(F.lit("1992-01-01")), F.col("n_nationkey").cast("int") * 7), "yyyy-MM-dd"
        ).alias("week_offset_date"),
        F.round(F.sqrt(F.col("n_nationkey") + 1) * F.log(F.col("n_nationkey") + 2.0), 6).alias("mathy"),
        F.size(arr).cast("bigint").alias("n_chars"),
        F.element_at(arr, 1).alias("first_char_sorted"),
        F.element_at(
            F.create_map(F.lit("k"), F.col("n_regionkey").cast("string")), "k"
        ).alias("region_via_map"),
    )


def _q_pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by priority (rows) x status (columns)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


def _q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` (30-min gap) per user: start, end
    (last event + gap), count, value sum.  This is the engine-native
    session operator -- the same expression runs under Structured Streaming
    with a watermark and merging session state
    (tests/test_windows.py::test_session_window_streaming_matches_batch).
    Scale shape: one shuffle on user_id; session merge is per-key state,
    no window-function total sort."""
    _utc(spark)
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("win"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("win.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def _q_window_function_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-function breadth on one frame: lead/lag, ntile,
    percent_rank, cume_dist over each customer's order history
    (deterministic frame: orderdate then orderkey)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 100 == 0)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def _q_scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension maintenance (operators/scd2.py) demoed on the
    customer segment: the whole customer table is the open current
    state; a deterministic change batch (every 7th key gets a new
    segment, every 14th a second later change, including engineered
    no-op changes) rebuilds per-key validity chains.  Work scales with
    CHANGED keys only -- untouched open rows leave via an anti join."""
    _utc(spark)
    c = _t(spark, sf_dir, "customer")
    current = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    base = c.filter(F.col("c_custkey") % 7 == 0)
    ch1 = base.select(
        F.col("c_custkey").alias("k"),
        F.concat(F.lit("SEG_"), (F.col("c_custkey") % 4).cast("string")).alias("seg"),
        F.expr(
            "timestamp'1999-01-01' + make_dt_interval(c_custkey % 400)"
        ).alias("change_ts"),
    )
    # second change; for keys where (k/2) % 4 == k % 4 it is a no-op
    # and must collapse out of the lineage
    ch2 = base.filter(F.col("c_custkey") % 14 == 0).select(
        F.col("c_custkey").alias("k"),
        F.concat(
            F.lit("SEG_"), ((F.col("c_custkey") / 2).cast("long") % 4).cast("string")
        ).alias("seg"),
        F.expr(
            "timestamp'1999-01-01' + make_dt_interval(c_custkey % 400 + 100)"
        ).alias("change_ts"),
    )
    out = scd2_apply(current, ch1.unionByName(ch2), ["k"], ["seg"])
    return out.select(
        "k",
        "seg",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "is_current",
    )


def _q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL front-end (the engine registers the
    scan as a temp view and plans the query with Catalyst -- same
    single-pass expand+aggregate as rollup/cube)."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# ===========================================================================
# LLM-pipeline extensions
# ===========================================================================


def _q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced data diet: assign embeddings to the trained
    centroids (shared argmax kernel), then deterministically downsample
    each cluster toward the mean cluster size
    (functions/sampling.py:cluster_stratified_sample).  Thresholds from
    one aggregate over assignment keys broadcast back; each row decides
    locally -- no second corpus scan, replay-stable."""
    e = _embs(spark, sf_dir)
    cent = _trained_centroids(spark, sf_dir)
    assigned = assign_to_centroids(e, cent, dim=_EMB_DIM)
    return cluster_stratified_sample(assigned, "cluster_id", key_col="vec_id")


def _q_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk packing manifest (functions/packing.py:chunk_manifest):
    which slice of which document composes each 512-token training
    chunk.  Map-side explode over the prefix-sum offsets; output is
    corpus-linear with a 1/seq_len constant."""
    return chunk_manifest(
        _docs(spark, sf_dir), seq_len=512, sep_tokens=1, bucket_size=100
    )


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-set quality flags over the documents corpus
    (functions/curation.py:gopher_quality_flags) -- row-local, zero
    shuffle; thresholds tuned so every rule fires on part of this
    corpus (the flags are only evidence if both branches occur)."""
    return gopher_quality_flags(_docs(spark, sf_dir))


def _ulm_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained unigram-LM piece table, trained IN the invocation that
    consumes it.  Until r17 this was a cross-run parquet cache keyed on
    the corpus file's stat; the r18 optimization contract forbids
    persisted intermediates keyed on the test data, so the hard-EM run
    now executes per call.  Values are unchanged (strings and doubles
    round-tripped the old cache bit-exactly).  The trainer returns a
    driver-local frame (the piece table is vocabulary-sized), so no
    materialization is needed."""
    return unigram_lm_train(
        _docs(spark, sf_dir),
        vocab_size=_ULM_VOCAB_SIZE,
        max_piece_len=_ULM_MAX_PIECE_LEN,
        seed_size_mult=_ULM_SEED_MULT,
        n_em_iters=1,
        prune_frac=1.0,
        logprob_round=_ULM_ROUND,
    )


def _q_unigram_lm_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM subword tokenizer, train + encode composite
    (functions/unigram_lm.py: the SentencePiece-family sibling of
    bpe_train/bpe_apply, Kudo 2018).  Trains the piece table on the
    documents corpus -- substring seeding, hard-EM Viterbi iterations,
    count pruning -- then Viterbi-encodes every document under it:
    ``(doc_id, n_words, n_pieces, encoded)``.

    The pinned config makes the adaptive train loop STRUCTURALLY
    bounded so the oracle can replay it exactly (the SPFHP/BPE idiom):
    n_em_iters=1 and prune_frac=1.0 mean the loop is seed -> EM ->
    [at most ONE prune to budget -> EM] -> final EM, and the oracle
    computes BOTH branches, picking by the same n_multi > budget gate
    the engine evaluates; logprob_round=6 makes every piece log-prob a
    shared round-6 double (round_half_away == DuckDB round), so both
    sides' Viterbi DPs sum IDENTICAL doubles and the engine's 1e-12
    tie-epsilon resolves identically (round-6 score gaps are either
    float-noise ties or >= ~1e-6).  vocab_size=32 is below this
    corpus's multi-candidate count, so the driver row exercises the
    prune branch; both branches are fuzzed SQL-vs-replica in
    tests/test_unigram_lm_oracle.py.  Tie-breaks (fewer pieces, then
    lexicographic) replay via list_sort over (np, pc)-led structs.

    The piece table trains IN this invocation (_ulm_artifacts; the
    r18 optimization contract removed the cross-run cache).

    Scale shape (unchanged by the pinned config): the corpus is
    scanned once into the distinct-word vocabulary; every EM pass is
    an Arrow-batched pandas Viterbi over that compact frame; encode
    joins the size-gated word-segmentation frame onto posexploded
    tokens and reassembles with one doc-keyed shuffle -- document text
    never rides an exchange.
    """
    pieces = _ulm_artifacts(spark, sf_dir)
    return unigram_lm_encode(
        _docs(spark, sf_dir), pieces, max_piece_len=_ULM_MAX_PIECE_LEN
    )




def _q_profile_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel profile (functions/profile.py:profile_funnel):
    a four-stage funnel over documents -- raw -> min_len (>= 40
    whitespace tokens) -> english (language_id == 'en') -> quality
    (4-digit quality_score >= 0.6, compared as the exact BIGINT
    round(quality*10000) >= 6000, the corpus_report idiom) -- with one
    corpus_profile row per stage: doc/token/char volumes, token-length
    p50/p90/p99 (percentile_approx at default accuracy ==
    quantile_disc at this n, the curriculum_assignment-pinned
    equivalence), exact distinct-content count and dup rate
    (exact_distinct=True -- the HLL default has no SQL replica and its
    scale posture is plan-tested instead), and the empty-doc count.

    r16 registry fold: absorbs the retired ``corpus_report`` slot --
    the per-stage profile machinery re-derives the report's volume and
    exact countDistinct-fingerprint dup-rate arithmetic (here over
    funnel stages instead of sources), its language_id/quality_score
    bodies stay value-checked through ``doc_signals``, and the md5
    content fingerprint through ``corpus_diff_status``.  Stage
    predicates reuse those same bodies, so the funnel hash pins them
    AND the kept-fraction composition a curation pipeline publishes.

    Scale shape (r18, one-pass): the per-row signals AND the stage
    predicates come out of ONE projection over ONE corpus scan,
    materialized as the slim (id, 4 flags, 3 numeric, 1 fingerprint)
    frame (lazy localCheckpoint); each stage is a flag filter + 1-row
    aggregate over that frame -- text never rides an exchange, and the
    corpus is read once instead of once per stage (the pre-r18
    profile_funnel spelling re-scanned text and re-derived signals for
    every stage; values are identical -- same expressions, same rows,
    same partition layout, see profile_funnel_shared).
    """
    d = _docs(spark, sf_dir).withColumn("__toks", tokens("text"))
    p_min_len = token_count("text") >= 40
    p_english = p_min_len & (language_id("text") == F.lit("en"))
    p_quality = p_english & (
        F.round(quality_score("text") * 10000).cast("bigint") >= 6000
    )
    funnel = profile_funnel_shared(
        d,
        [("raw", None), ("min_len", p_min_len), ("english", p_english),
         ("quality", p_quality)],
        exact_distinct=True,
    )
    return funnel.select(
        F.col("stage_idx").cast("int"),
        "stage",
        "n_docs",
        "total_tokens",
        F.col("total_chars").cast("bigint").alias("total_chars"),
        "avg_tokens",
        "min_tokens",
        "max_tokens",
        F.element_at("token_percentiles", 1).alias("p50_tokens"),
        F.element_at("token_percentiles", 2).alias("p90_tokens"),
        F.element_at("token_percentiles", 3).alias("p99_tokens"),
        F.col("approx_distinct_docs").alias("n_distinct_docs"),
        F.col("approx_dup_rate").alias("dup_rate"),
        "n_empty_docs",
    )


def _q_doc_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text signals in ONE projection: language-ID,
    quality score, whitespace + BPE-ish pre-tokenizer token counts.

    r13 registry fold: replaces the three single-column queries
    ``lang_id_pred`` / ``quality_scores`` / ``bpe_token_counts`` --
    identical value-level oracle coverage of language_id(),
    quality_score(), token_count() and bpe_token_count(), but as one
    zero-shuffle map-only pass instead of three full corpus scans.
    This is also the honest 100 TB shape: signal columns are computed
    together in a single scan, never one job per signal."""
    d = _docs(spark, sf_dir).withColumn("__toks", tokens("text"))
    return d.select(
        "doc_id",
        language_id("text").alias("lang_pred"),
        quality_score("text").alias("quality"),
        token_count("text").alias("n_ws_tokens"),
        bpe_token_count("text").alias("n_bpe_tokens"),
    )


def _q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (MOSS scheme) per document."""
    return winnow_fingerprint(_docs(spark, sf_dir), k=7, w=4)


def _q_bpe_apply_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document tokenizer APPLICATION (functions/text.py:bpe_apply):
    every document encoded under the corpus's own trained 8-merge
    vocabulary, trained in this invocation (_bpe_artifacts).
    The broadcast vocabulary joins onto posexploded tokens and ONE
    doc-keyed shuffle of (position, encoded-word) pairs reassembles --
    text never rides an exchange (plan-pinned).  The oracle replays
    the 8 merge rounds (the bpe_encode CTE chain) and re-derives every
    document's encoding with an ordered string_agg."""
    vocab = _bpe_artifacts(spark, sf_dir)[1]
    return bpe_apply(_docs(spark, sf_dir), vocab)


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


def _q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document paragraph dedup (functions/dedup.py:paragraph_dedup)
    over a deterministic in-plan multi-paragraph corpus: every doc gets a
    corpus-wide shared header and a footer shared by its doc_id%7 class,
    so first-occurrence-wins has both global and per-group work to do on
    top of the testdata's own planted near-dup texts."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.lit("COMMON HEADER"),
            F.col("text"),
            F.concat(F.lit("footer-"), (F.col("doc_id") % 7).cast("string")),
        ).alias("text"),
    )
    return paragraph_dedup(d)


def _q_boilerplate_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate LINE removal (functions/dedup.py:
    boilerplate_line_dedup, the RefinedWeb/Dolma duplicated-line rule:
    every occurrence of a line seen in >= min_df distinct docs is
    template chrome and goes) over a deterministic in-plan multi-line
    corpus: a corpus-wide cookie banner, the doc's own text, a nav
    line shared by its doc_id%5 class, a whitespace-only spacer (which
    must survive -- blank lines are never fingerprinted), and a
    corpus-wide footer.  min_df=3 keeps each doc's own body (df=1 bar
    planted near-dup texts) while killing banner/nav/footer."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("COOKIE BANNER"),
            F.col("text"),
            F.concat(F.lit("nav-"), (F.col("doc_id") % 5).cast("string")),
            F.lit("  "),
            F.lit("(c) footer"),
        ).alias("text"),
    )
    return boilerplate_line_dedup(d, min_df=3)


def _q_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma/RefinedWeb domain balancing (functions/sampling.py:
    per_source_cap): keep the 30 documents per source with the
    smallest seeded md5 bucket (18 < the 25-per-source sf0.01
    floor, so the cap BINDS at every sf) -- an exact-k deterministic random
    top-cap, rank ties broken on doc_id so engine and oracle agree
    row-for-row.  One source-keyed shuffle carrying (doc_id, source,
    bucket) only; bodies never move."""
    return per_source_cap(_docs(spark, sf_dir), cap=18)


def _q_lm_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet quality-filter regime end to end: a stupid-backoff
    bigram LM (functions/text.py:stupid_backoff_scores, Brants et al.
    2007) trains on the even-doc_id half of the corpus and scores the
    held-out odd half -- unseen bigrams fall to the alpha-discounted
    unigram, unseen tokens to the OOV floor, so the backoff and OOV
    paths actually fire (self-scoring never backs off; unit-pinned) --
    then the scores bin per-source through the IDENTICAL
    quality_stratified_buckets (exact ntile over (score, doc_id)) +
    quality_bucket_cuts (broadcast approx-percentile cuts, no window)
    machinery the retired ``quality_buckets`` slot checked on doc
    length (r15b fold; the slim-window and broadcast-no-window plan
    contracts live in tests/test_plan_shapes.py against the functions
    themselves, and the skewed 1e6-doc shape comparison stays in
    R13_OPS_SCALE.json).  percentile_approx at accuracy >= stratum
    size IS the exact discrete quantile DuckDB's quantile_disc
    computes.  The oracle re-derives the whole model -- counts,
    backoff CASE, n-weighted mean, cuts, ntile -- in SQL.  The score
    frame is materialized ONCE (lazy localCheckpoint) and both binning
    paths read it -- the 100 TB shape the docstring used to defer to
    ("persist stupid_backoff_scores once"), now in the plan itself:
    until r18 the exact and approx paths each re-derived the full
    backoff scoring lineage (2x the model join work for identical
    values)."""
    d = _docs(spark, sf_dir)
    ref = d.filter(F.col("doc_id") % 2 == 0)
    held = d.filter(F.col("doc_id") % 2 == 1)
    scored = stupid_backoff_scores(held, ref_df=ref).join(
        d.select("doc_id", "source"), "doc_id"
    ).localCheckpoint(eager=False)
    exact = quality_stratified_buckets(
        scored, score_col="lm_logprob", n_buckets=4, strata_col="source"
    ).withColumnRenamed("quality_bucket", "ppl_bucket")
    approx = quality_bucket_cuts(
        scored, score_col="lm_logprob", n_buckets=4, strata_col="source"
    ).select("doc_id", F.col("quality_bucket").alias("ppl_bucket_approx"))
    return exact.join(approx, "doc_id").select(
        "doc_id", "source", "n_tokens", "n_bigram_hit", "n_backoff",
        "n_oov", "lm_logprob", "ppl_bucket", "ppl_bucket_approx",
    )


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-crawl exact dedup (functions/dedup.py:
    incremental_exact_dedup): even doc_ids seed a persisted fingerprint
    store (batch 0, dynamic-partition overwrite -- rerun-identical),
    then the odd doc_ids arrive as batch 1 and survive only if first
    within the batch AND novel against the store.  Work is O(batch +
    store-scan): the batch shuffles 32-byte fingerprints once, the
    anti-join broadcasts the small side, and a replayed batch excludes
    its own __batch partition so both the returned frame and the store
    are replay-stable."""
    docs = _docs(spark, sf_dir)
    # scratch, not a cache: the store is REBUILT (dynamic-partition
    # overwrite) by every invocation; the key only isolates concurrent
    # sessions on different corpora
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:16]
    store = os.path.join(
        tempfile.gettempdir(), "spark_graft_scratch", "incdedup", key
    )
    build_fingerprint_store(
        docs.filter(F.col("doc_id") % 2 == 0), store, batch_id=0
    )
    return incremental_exact_dedup(
        docs.filter(F.col("doc_id") % 2 == 1), store, batch_id=1
    )


_BPE_N_MERGES = 8


def _bpe_artifacts(spark: SparkSession, sf_dir: str):
    """Trained-tokenizer artifacts (rule table + encoded vocabulary),
    trained IN the invocation that consumes them.  Until r17 both were
    a cross-run parquet cache keyed on the corpus file's stat; the r18
    optimization contract forbids persisted intermediates keyed on the
    test data, so the merge-round loop
    (functions/text.py:bpe_train_and_encode) now runs per call.
    Values are unchanged (strings and longs round-tripped the old
    cache exactly).  The rule table is driver-local; the encoded vocab
    is a compact distinct-word frame consumed once by the broadcast
    apply join, so neither needs materialization."""
    return bpe_train_and_encode(_docs(spark, sf_dir), n_merges=_BPE_N_MERGES)


def _q_fuzzy_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy-dedup KEEP rule -- the pipeline deliverable the cluster
    map exists for: each MinHash-LSH connected component keeps its
    smallest doc_id (the min-label IS the representative, so "keep" is
    simply cluster_id == doc_id) and every unclustered doc survives.
    One anti-join of the corpus against the (tiny) non-representative
    set; document bodies never shuffle."""
    d = _docs(spark, sf_dir)
    sigs = minhash_signatures_text(d, n=5, num_hashes=_MINHASH_K)
    pairs = lsh_candidate_pairs(sigs, bands=_LSH_BANDS, rows_per_band=_LSH_ROWS)
    dropped = (
        dedup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    return d.join(dropped, "doc_id", "left_anti").select("doc_id", "lang", "source")


def _q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-score ngram Jaccard with stop-shingle candidate pruning.

    Cost/recall of the exact rescore, MEASURED at sf0.1 (best-of-3,
    back-to-back in one session, r5): the exact-rescore variant ran
    13.8s with the pair-expansion rescore (r3's lossy variant was 4.1s
    -- the +8s/+200% in BENCH_r04 was genuine rescore work, not machine
    noise) and 5.7s after switching the rescore to per-doc shingle-set
    arrays + array_intersect (same 7,665 pairs, scores identical).
    Recall: pruning drops only pairs whose overlap is exclusively
    stop-shingles (df > _NGRAM_MAX_DF); emitted scores are exact."""
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=5, threshold=0.25, max_shingle_freq=_NGRAM_MAX_DF
    )


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within hamming distance 3: banding into
    max_hamming+1 slices makes the candidate set EXACT by pigeonhole
    (<=3 differing bits cannot touch all 4 bands), then the popcount of
    the XOR verifies.  r13 registry fold: subsumes the retired
    ``simhash_docs`` query -- the identical simhash() signature frame
    is this query's first stage, so signature regressions still break
    the oracle here (any changed bit changes the pair set and the
    verified hamming distances)."""
    sigs = simhash(_docs(spark, sf_dir), bits=_SIMHASH_BITS)
    return simhash_near_dup_pairs(
        sigs, max_hamming=3, bits=_SIMHASH_BITS
    )


def _q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring spans (suffix-array-dedup surrogate,
    Lee et al. 2022): maximal token ranges covered by globally
    non-unique 8-token grams.  k=8 fits the synthetic corpus' ~60-token
    docs; production substring dedup uses k~50."""
    return substring_dup_spans(_docs(spark, sf_dir), k=8)


def _q_substring_dedup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Lee-et-al 2022 substring dedup, mark AND cut
    (functions/dedup.py: substring_dup_spans -> remove_dup_spans): the
    marked maximal duplicate spans feed the removal half, every token
    inside a span is dropped, survivors re-join with single spaces,
    and documents with no spans pass through byte-unchanged (NULL text
    stays NULL).  One row per document -- ``(doc_id, text,
    n_tokens_removed)`` with the CUT TEXT itself hash-checked, so both
    halves of the pipeline verify through one driver row (the spans
    determine exactly which tokens vanish; a wrong mark or a wrong cut
    changes the output string).  Registered r17 (VERDICT r16 ask #2),
    paid by folding sft_turn_spans into sft_pack_spans (R17_FOLDED).

    The oracle replays the span producer's gram CTEs (the registered
    substring_dup_spans oracle) but cuts directly from the union of
    duplicated-gram covers -- equivalent to cutting merged spans,
    since merging preserves the covered-position set."""
    # explicit select: remove_dup_spans passes caller columns through
    # since r18, and this query's driver schema stays the 3-column one
    return substring_dedup(_docs(spark, sf_dir), k=8).select(
        "doc_id", "text", "n_tokens_removed"
    )


def _q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed variant of embedding_near_dup: 8 independent
    hyperplane tables (6 planes each, seeds 42..49) pre-partition the
    corpus; the pairwise sweep runs within each (table, bucket) group
    only and a pair is kept if it collides in ANY table -- the scale
    path when one exact block-pair sweep is too quadratic.

    Approximate by design.  MEASURED recall vs the exact variant at
    threshold 0.4 (r5 measurement, this configuration): 26/59 = 0.44 at
    sf0.01 and 391/920 = 0.43 at sf0.1, with ZERO spurious pairs
    (LSH output is a strict subset of the exact pairs).  Matches theory:
    a pair at cosine c collides in one 6-plane table with p^6,
    p = 1 - arccos(c)/pi, so recall = 1-(1-p^6)^8 -- ~0.4 near the 0.4
    threshold floor, approaching 1.0 for true near-dups (c >= 0.9).
    The low threshold here exists to exercise the operator on the
    synthetic corpus; production near-dup thresholds (>= 0.9) sit in
    the high-recall regime.

    CROSSOVER, MEASURED (ANN_SCALE.json, bench_ann_scale.py: dim 64,
    threshold 0.8, 32 cores): the exact blocked matmul wins at n <= 1e4
    (2.7 s vs 7.2 s -- which is why sf0.1's 2k vectors bench ~4x faster
    on the exact path), LSH overtakes by n = 3e4 (4.7 vs 5.8 s), and
    the gap grows quadratically: 30 vs 91 s at 1e5, 23 vs 492 s at 3e5
    (21x).  At 1e6 LSH measures 128 s while the exact arm extrapolates
    (n^2 from the 3e5 rung) to ~1.5 h -- a 43x gap.

    The oracle SQL reproduces the identical 8-table bucketing (same
    seeded planes, UNION over tables, DISTINCT pairs), so correctness
    checks the approximate semantics themselves."""
    return embedding_near_dup_pairs(
        _embs(spark, sf_dir), threshold=0.4,
        lsh_planes=_ANN_PLANES, dim=_EMB_DIM, lsh_seed=42,
        lsh_tables=_ANN_TABLES,
    )


def _queries_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embs(spark, sf_dir)
    return brute_force_topk(e, _queries_frame(spark, sf_dir), k=10)


# 1 round, not 2: the r7 iteration scan (docstring below) measured
# recall 0.50/0.48/0.50/0.50 at 1/2/4/6 rounds -- the plateau starts at
# the FIRST round on this corpus, so each extra round is one full
# corpus pass (plus a broadcast) for noise-level change.  Three queries
# consume the trained frame; dropping the second round saves that pass
# in each.
_IVF_TRAIN_ITERS = 1


def _q_similarity_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with Lloyd-trained coarse centroids: stride-31
    deterministic init, nprobe-list probing, plus spherical-k-means
    rounds (_IVF_TRAIN_ITERS) (assign = Arrow argmax-cosine pass; update = per-dim avg,
    rounded so both engines train bit-identical centroids).

    r13 registry fold: subsumes the retired ``similarity_ivf_topk``
    (untrained) query -- same ivf_topk() search path, same coarse init
    (training STARTS from the stride centroids, so the init is still
    exercised); the centroid_stride=N untrained spelling stays
    unit-tested in tests/test_similarity*.

    Recall@5 vs brute force (TOPK_RECALL.json, at the shipped 1-round
    config): 0.50 trained vs 0.44 untrained at sf0.1, 0.66 vs 0.62 at
    sf0.01, identical nprobe/probed fraction.  The iteration scan
    (1/2/4/6 rounds -> 0.50/0.48/0.50/0.50) shows the plateau starts at
    the FIRST round: the synthetic corpus is near-uniform, so training
    recovers what little cluster structure exists immediately; each
    extra round costs one corpus pass for noise-level change -- hence
    _IVF_TRAIN_ITERS = 1.  Real embedding corpora cluster, which is
    where more Lloyd rounds pay."""
    e = _embs(spark, sf_dir)
    cent = _trained_centroids(spark, sf_dir)
    return ivf_topk(
        e, _queries_frame(spark, sf_dir), k=5,
        nprobe=_IVF_NPROBE, dim=_EMB_DIM, centroids=cent,
    )


def _trained_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-trained centroid frame, trained IN the invocation that
    consumes it.  Until r17 this was a cross-run parquet cache keyed on
    the corpus file's stat; the r18 optimization contract forbids
    persisted intermediates keyed on the test data (every bench/oracle
    invocation must compute from the parquet inputs), so training now
    runs per call.  Values are unchanged: doubles round-tripped the old
    parquet cache bit-exactly, so the live frame scores identically and
    the oracle's training replication still matches.  The kilobyte-sized
    result is lazily localCheckpoint-ed so one invocation's multiple
    consumers (probe side + ADC LUT / assignment + sampling) share one
    training run -- within-call reuse, no cross-call persistence.
    (Session-lifetime note, r19 ADVICE -- applies to every per-call
    localCheckpoint artifact in this module and lm_ppl's scored frame:
    checkpoint blocks stay resident until the session ends; the
    one-query-per-invocation bench/oracle shape never accumulates,
    a looping consumer should recycle sessions.)"""
    return train_ivf_centroids(
        _embs(spark, sf_dir),
        iters=_IVF_TRAIN_ITERS, centroid_stride=_IVF_STRIDE, dim=_EMB_DIM,
    ).localCheckpoint(eager=False)


_SEMDEDUP_THRESHOLD = 0.3


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) on the trained IVF centroids:
    cluster with Lloyd-trained centroids (_IVF_TRAIN_ITERS rounds), then prune within clusters only --
    a vector is dropped iff a smaller-id cluster-mate sits at
    cosine >= 0.3 (deterministic representative rule; see
    functions/semantic.py for the 100 TB shape: broadcast centroids,
    zero-shuffle assignment, one cluster-keyed shuffle, per-cluster
    BLAS).  At sf0.01 the clusters hold 7,323 candidate pairs vs
    124,750 global pairs -- the 17x reduction in pairwise work is the
    SemDeDup trade; prune quality is bounded by cluster recall (a
    cross-cluster near-dup pair is never examined, same recall
    contract as similarity_ivf_topk)."""
    e = _embs(spark, sf_dir)
    cent = _trained_centroids(spark, sf_dir)
    return semantic_dedup(
        e, cent, threshold=_SEMDEDUP_THRESHOLD, dim=_EMB_DIM
    )


def _q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: codes, scale, and the
    per-vector reconstruction MSE.  Zero-shuffle projection; the stored
    column shrinks 4x (64 int8 codes + scale vs 64 float32), which at
    100 TB is the difference in scan and shuffle bandwidth for every
    downstream similarity pass."""
    q = quantize_int8_frame(_embs(spark, sf_dir), keep_vec=True)
    mse = (
        F.aggregate(
            F.zip_with(
                F.col("vec"),
                F.col("qvec"),
                lambda x, c: F.pow(x.cast("double") - c * F.col("scale"), F.lit(2.0)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / float(_EMB_DIM)
    )
    # scale is emitted RAW: absmax is an exact float32->double value and
    # /127.0 is IEEE-deterministic, so both engines produce bit-identical
    # doubles -- while round(scale, 9) on a ~1e-7 scale actually CREATES
    # cross-engine mismatches at decimal-rounding boundaries (seen at
    # sf0.1, whose corpus contains tiny-magnitude vectors)
    # qvec is serialized to a comma-joined string: the driver's
    # canonicalizer sorts result frames through pandas, which cannot
    # hash a raw array column (r09's one red row).  The int8 values
    # themselves stay fully checked -- the string is a lossless,
    # order-preserving rendering -- and the local parity test keeps
    # asserting the numeric reconstruction MSE.
    return q.select(
        "vec_id",
        "scale",
        # the NULL guard matters: concat_ws renders a NULL array as ''
        # where the oracle's CASE yields NULL (non-finite vectors)
        F.when(
            F.col("qvec").isNotNull(),
            F.concat_ws(
                ",", F.transform(F.col("qvec"), lambda x: x.cast("string"))
            ),
        ).alias("qvec"),
        F.round(mse, 9).alias("mse"),
    )


def _q_similarity_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8-candidate top-k with exact refine: rank by the reconstructed
    int8 dot (4x cheaper corpus scan), keep k*4 per query, rescore the
    survivors in float.  Exact output unless a true top-5 member fell
    below rank 20 in quantized order -- at 64 dims int8 keeps ~0.4% max
    relative element error, so in practice this matches brute force;
    the oracle replicates the full two-stage pipeline, not brute force,
    making the semantics themselves the checked contract."""
    return quantized_topk(
        _embs(spark, sf_dir), _queries_frame(spark, sf_dir),
        k=5, expand=4, dim=_EMB_DIM,
    )


def _q_similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-k with exact rescore (functions/pq.py): 8-byte codes
    (32x compression), per-query integer LUT scoring, k*16 candidates,
    float rescore.  Ships TRAINED codebooks (one Lloyd round over the
    stride seeds, functions/pq.py:train_pq_codebooks) -- measured
    recall@5 lift 0.70 -> 0.80-0.90 over the raw seeds
    (TOPK_RECALL.json) -- built in this invocation (_pq_artifacts):
    training and corpus encoding run once per call, each materialized
    via lazy localCheckpoint, so the ADC scan still never touches the
    float corpus.  Fixed-point BIGINT ranking
    makes the candidate set engine-independent; the oracle replicates
    the full pipeline (codebook seeding -> argmin encode -> per-cell
    mean retrain -> re-densify -> re-encode -> ADC -> rescore), so the
    trained-PQ semantics themselves are the checked contract."""
    tcb, tcodes = _pq_artifacts(spark, sf_dir)
    return pq_topk(
        _embs(spark, sf_dir), _queries_frame(spark, sf_dir),
        k=10, expand=_PQ_EXPAND, m=_PQ_M, dim=_EMB_DIM,
        codebooks=tcb, corpus_codes=tcodes,
    )


def _pq_artifacts(spark: SparkSession, sf_dir: str):
    """TRAINED-PQ artifacts for similarity_pq_topk: the Lloyd-trained
    codebooks (train_pq_codebooks, 1 round) and the corpus encoded
    against them (pq_encode), built IN the invocation that consumes
    them.  Until r17 both were a cross-run parquet cache keyed on the
    corpus file's stat; the r18 optimization contract forbids persisted
    intermediates keyed on the test data, so both build per call.
    Values are unchanged (doubles round-tripped the old cache
    bit-exactly).  Both frames are lazily localCheckpoint-ed: the
    codebooks feed the encode AND the ADC LUT, the code rows feed the
    ADC scan -- one training run per invocation, and the ADC stage
    still scans only the compact code rows, never the float corpus."""
    e = _embs(spark, sf_dir)
    tcb = train_pq_codebooks(
        e, iters=1, m=_PQ_M, k_sub=_PQ_KSUB, stride=_PQ_STRIDE, dim=_EMB_DIM
    ).localCheckpoint(eager=False)
    tcodes = pq_encode(e, tcb, m=_PQ_M, dim=_EMB_DIM).localCheckpoint(eager=False)
    return tcb, tcodes


def _ivfpq_artifacts(spark: SparkSession, sf_dir: str):
    """The IVF-PQ index (functions/pq.py:build_ivfpq_index) + the
    centroid/codebook frames it was built with.  Centroids are
    Lloyd-trained over a CAPPED seed set (k_cent=_IVF_KCENT), which is
    what makes the build linear: O(n * k_cent) assignment instead of
    the uncapped stride sample's O(n^2/31)."""
    # r18: the cross-run (corpus-stat-keyed) cache is gone -- the
    # optimization contract forbids persisted intermediates keyed on
    # the test data, so the index builds IN every invocation that
    # probes it.  With a per-call rebuild the old write+read-back of
    # the cid-partitioned index is pure overhead (one extra write job
    # and a full round-trip of the code rows per call): the index is
    # instead a lazily-localCheckpoint-ed frame, so the probe's ADC
    # stage still consumes only the compact (vec_id, cid, codes) rows
    # -- the float corpus is read exactly once, by the build.  A real
    # deployment persists build_ivfpq_index's output partitioned by
    # cid ONCE and probes it forever (partition-pruned reads); that
    # layout and its pruning stay covered by
    # tests/test_pq.py::test_build_ivfpq_index_matches_inline_derivation
    # and the write path in functions/pq.py.
    # The build trains/encodes over the finite subset only
    # (fixed-point NaN encode is a job-killer; oracle: embeddings_f)
    e = _embs_finite(spark, sf_dir)
    cent = train_ivf_centroids(
        e, iters=_IVF_TRAIN_ITERS, centroid_stride=_IVF_STRIDE,
        dim=_EMB_DIM, k_cent=_IVF_KCENT, train_limit=_IVF_TRAIN_LIMIT,
    ).localCheckpoint(eager=False)
    cb = pq_codebooks(
        e, m=_PQ_M, k_sub=_PQ_KSUB, stride=_PQ_STRIDE, dim=_EMB_DIM
    ).localCheckpoint(eager=False)
    idx = build_ivfpq_index(
        e, cent, cb, m=_PQ_M, dim=_EMB_DIM,
    ).localCheckpoint(eager=False)
    return cent, cb, idx


def _q_similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (functions/pq.py:ivfpq_topk): coarse nprobe cell probing
    restricts the integer-ADC scan to ~nprobe/k_cent of the corpus,
    candidates rescore in exact float -- the FAISS IndexIVFPQ shape and
    the billion-vector configuration of this engine's ANN stack.  The
    (vec_id, cid, codes) index is rebuilt in this invocation (r18
    honest recompute; _ivfpq_artifacts) and probed with the same
    Lloyd-trained capped-k centroids it was assigned with, so the ADC
    stage scans only compact code rows and the build is linear in n.
    The
    oracle replicates centroid training + assignment + probe + codebook
    encode + ADC + rescore, so the composed semantics are the checked
    contract.  Small-n wall time is stage-count-bound; the
    nprobe/k_cent corpus-fraction win is the 10^6+ regime
    (ANN_SCALE.json's measured crossover shape)."""
    cent, cb, idx = _ivfpq_artifacts(spark, sf_dir)
    # finite subsets on both sides: the PQ fixed-point encode would
    # CAST_OVERFLOW on a NaN component under ANSI (oracle: embeddings_f)
    return ivfpq_topk(
        _embs_finite(spark, sf_dir),
        _queries_frame(spark, sf_dir).filter(vec_is_finite("query_vec")),
        k=10, expand=8, nprobe=_IVF_NPROBE,
        m=_PQ_M, dim=_EMB_DIM,
        corpus_index=idx, codebooks=cb, centroids=cent,
    )


def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance search (functions/retrieval.py): top-20 docs for
    the query terms _BM25_TERMS.  Postings are filtered to the query's terms
    before any group/join (map-side prune), corpus stats and per-term
    document frequencies broadcast, and per-term contributions are
    fixed-point BIGINTs so the per-doc sum is order-independent --
    the oracle replicates the identical scoring arithmetic."""
    return bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=20)


def _q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_binary_payload(_docs(spark, sf_dir))
    return extract_media_meta(media)


_TOKEN_BUDGET = 2000  # whitespace tokens across the kept mixture
_TOKEN_SHARES = {"src0": 0.5, "src1": 0.3}
_TOKEN_DEFAULT_SHARE = 0.01


def _q_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture (functions/sampling.py:token_budget_mixture):
    per-source keep rates min(1, share*budget/tokens_s) from one tiny
    token-total aggregate, decided row-locally by the shared
    deterministic hash; the oracle replicates the arithmetic at 1e-6
    threshold resolution."""
    return token_budget_mixture(
        _docs(spark, sf_dir),
        _TOKEN_SHARES,
        budget_tokens=_TOKEN_BUDGET,
        default_share=_TOKEN_DEFAULT_SHARE,
    )


_PHASH_GROUP_DIV = 3  # ids 3k..3k+2 share one planted image


def _q_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup end to end over REAL pixels: deterministic noise
    PNGs planted in id-groups (multimodal.synthesize_group_images) ->
    real PNG decode -> perceptual DCT hash (phash_images) -> exact
    banded Hamming pairing (dedup.simhash_near_dup_pairs, 64-bit
    signatures, 4x16-bit bands).  The planted ground truth -- exactly
    the within-group pairs at Hamming 0 -- is the oracle; any decode/
    DCT/banding regression changes the pair set."""
    media = synthesize_group_images(_docs(spark, sf_dir), group_div=_PHASH_GROUP_DIV)
    sigs = phash_images(media)
    return simhash_near_dup_pairs(
        sigs, max_hamming=3, bits=64, id_col="media_id", sig_col="phash"
    )


def _q_audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup end to end over REAL decoded samples: planted
    noise WAVs in id-groups -> PCM16 decode -> Haitsma-Kalker band-
    energy fingerprint (multimodal.audio_fingerprint, gain-invariant
    log-energy difference signs) -> the same exact banded Hamming
    pairing as pHash/SimHash.  Planted ground truth is the oracle."""
    media = synthesize_group_wavs(_docs(spark, sf_dir), group_div=_PHASH_GROUP_DIV)
    sigs = audio_fingerprint(media)
    return simhash_near_dup_pairs(
        sigs, max_hamming=3, bits=64, id_col="media_id", sig_col="afp"
    )


def _q_multimodal_pixel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG codec round-trip per document (functions/multimodal.py:
    pixel_roundtrip_check): images with id-derived dims/constants go
    through encode_png -> zlib inflate -> filter reconstruction, and
    the decoded dims + pixel sums must equal the oracle's closed-form
    arithmetic -- losslessness makes the codec hash-checkable without
    the oracle decoding anything."""
    return pixel_roundtrip_check(_docs(spark, sf_dir))


def _q_audio_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV codec + feature round-trip per document: dyadic-
    amplitude square waves synthesized from doc_id pass through PCM16
    encode (scale 32768) -> wav_decode_samples -> RMS/peak/zero-cross
    features; every output has a closed form (amplitude (1+id%7)/8 is
    exactly representable end-to-end) so the oracle is arithmetic."""
    return extract_audio_features(synthesize_square_wavs(_docs(spark, sf_dir)))


# Deterministic PII-bearing "support ticket" text synthesized from the
# customer table (the slimmed TPC-H customer here carries no c_phone /
# c_address, so the demo PII is derived arithmetically from c_custkey --
# the same expressions on both engines).  Which PII kinds appear varies
# by key (mod arithmetic) so the redaction counts are non-constant.
_CONTAM_BENCH_MOD = 25  # every 25th doc stands in for the held-out eval set
_CONTAM_N = 5  # word n-gram width for the overlap check (GPT-3 used 13)


def _pii_ticket_col() -> F.Column:
    key = F.col("c_custkey")
    email = F.concat(
        F.lower(F.regexp_replace(F.col("c_name"), "[^A-Za-z0-9]", "")),
        F.lit("@example.com"),
    )
    phone = F.concat_ws(
        "-",
        (key % 900 + 100).cast("string"),
        ((key * 7) % 900 + 100).cast("string"),
        ((key * 13) % 9000 + 1000).cast("string"),
    )
    ip = F.concat_ws(
        ".",
        (key % 256).cast("string"),
        ((key * 3) % 256).cast("string"),
        ((key * 5) % 256).cast("string"),
        ((key * 7) % 256).cast("string"),
    )
    ssn = F.concat_ws(
        "-",
        F.lpad((key % 1000).cast("string"), 3, "0"),
        F.lpad((key % 100).cast("string"), 2, "0"),
        F.lpad((key % 10000).cast("string"), 4, "0"),
    )
    return F.concat_ws(
        " ",
        F.col("c_name"),
        F.lit("contact:"),
        F.when(key % 3 != 0, email),
        F.when(key % 2 == 0, phone),
        F.when(key % 5 != 0, ip),
        F.when(key % 7 == 0, ssn),
    )


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing demo over synthesized ticket text: one codegen'd
    projection (4 regexp_count + 4 chained regexp_replace), zero
    shuffle at any corpus size (functions/curation.py:pii_redact)."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", _pii_ticket_col().alias("ticket")
    )
    return pii_redact(c, text_col="ticket", out_col="redacted")


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style word-level repetition signals per document
    (functions/curation.py:repetition_stats): token stats per-row, the
    bigram mode via a doc-keyed two-level aggregate -- one shuffle on
    doc_id, never on the corpus-wide bigram vocabulary."""
    return repetition_stats(_docs(spark, sf_dir))


# Mixture config for the sampling demo: keep all of four "curated"
# sources, 40% of six mid-tier ones, 10% of everything else.
_MIX_FRACTIONS = {**{f"src{i}": 1.0 for i in range(4)},
                  **{f"src{i}": 0.4 for i in range(4, 10)}}
_MIX_DEFAULT = 0.1
_SPLITS = {"train": 0.8, "valid": 0.1, "test": 0.1}


def _q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full modern pre-training curation recipe as ONE declarative
    plan: language-ID + quality gate -> word-repetition gate ->
    benchmark decontamination -> SUBSTRING MARK+CUT (Lee et al. 2022,
    composed in r18 per VERDICT r17 ask #4) -> exact dedup of the CUT
    text -> deterministic mixture sample.

    Composition order is the 100 TB order, and the plan is built to
    match the claim (pinned in tests/test_plan_shapes.py): every
    per-doc signal -- lang, quality, dup-token fraction, contamination
    grams -- comes out of ONE projection over ONE pass, so the
    row-local gates prune before anything wide; after them, document
    bodies never cross an exchange -- decontamination is a LEFT ANTI
    join against the broadcast eval-gram set, the mark stage shuffles
    8-byte gram hashes and (doc, pos) pairs only, the cut is row-local
    array arithmetic behind the size-gated span join, exact dedup
    shuffles 32-byte fingerprints (computed from the CUT text, so two
    docs identical after boilerplate removal collapse), and the
    mixture sample is a scan-fused hash filter.  The cut sits after
    the cheap row-local gates (no wasted span work on dropped docs)
    and before dedup (fingerprints reflect what survives);
    decontamination reads the ORIGINAL text's grams from the shared
    projection -- contamination is about what the document contained.
    ``n_cut_tokens`` rides into the output so the driver hash pins the
    cut stage itself."""
    from data_stream_flink_user_address_spark.functions.curation import word_ngrams

    d = _docs(spark, sf_dir).withColumn("__toks", tokens("text"))
    sig = d.select(
        "doc_id",
        "source",
        "text",
        language_id("text").alias("lang"),
        quality_score("text").alias("quality"),
        F.when(
            F.size("__toks") > 0,
            round_parity(
                1.0 - F.size(F.array_distinct("__toks")) / F.size("__toks"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_token_frac"),
        F.array_distinct(word_ngrams(F.col("__toks"), _CONTAM_N)).alias("__grams"),
    )
    bench_grams = (
        sig.filter(F.col("doc_id") % _CONTAM_BENCH_MOD == 0)
        .select(F.explode("__grams").alias("gram"))
        .distinct()
    )
    kept0 = sig.filter(
        (F.col("doc_id") % _CONTAM_BENCH_MOD != 0)  # eval docs are not training data
        & (F.col("lang") == "en")
        & (F.col("quality") >= 0.5)
        & (F.col("dup_token_frac") <= 0.6)
    )
    contaminated_ids = (
        kept0.select("doc_id", F.explode("__grams").alias("gram"))
        .join(F.broadcast(bench_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    kept = (
        kept0.join(contaminated_ids, "doc_id", "left_anti")
        .drop("__grams", "lang")
    )
    # kept feeds BOTH the span producer and the cut's corpus side --
    # without materialization the signal projection + anti-join lineage
    # runs twice (multi-reference plans recompute; same fix as the
    # incremental gates' fresh frame).  Measured 139 -> 82 s at 1e6
    # synthetic docs (bench_curation_scale probe, r18).
    kept = kept.localCheckpoint(eager=False)
    # mark+cut within the gated survivor population; caller columns
    # (source/quality/dup_token_frac) ride through the cut
    cut = substring_dedup(kept, k=8)
    # fingerprint the CUT text, then drop bodies BEFORE the dedup
    # window so text never crosses the fingerprint exchange
    scored = cut.select(
        "doc_id",
        "source",
        "quality",
        "dup_token_frac",
        F.col("n_tokens_removed").alias("n_cut_tokens"),
        doc_fingerprint("text").alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy(F.col("doc_id").asc())
    deduped = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return mixture_sample(
        deduped, _MIX_FRACTIONS, default_fraction=_MIX_DEFAULT, seed=42
    ).select("doc_id", "source", "quality", "dup_token_frac", "n_cut_tokens")


def _q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: every 25th doc plays the held-out
    eval set; the remaining corpus is flagged on 5-word-gram overlap.
    The eval n-gram set broadcasts; the corpus is never shuffled by the
    membership test (functions/curation.py:ngram_contamination)."""
    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % _CONTAM_BENCH_MOD == 0)
    corpus = d.filter(F.col("doc_id") % _CONTAM_BENCH_MOD != 0)
    return ngram_contamination(corpus, bench, n=_CONTAM_N)


# ---------------------------------------------------------------------------
# r14 registrations: the r13b operator family (VERDICT r13 ask #1) as
# composite driver queries -- web ingestion, NB quality classifier,
# cross-corpus decontamination, leakage-guarded splitting, deterministic
# upsampling + epoch shuffle, Gumbel importance resampling, the
# incremental MinHash gate, heavy-hitter terms + RRF fusion, and SPFHP
# packing + compression-ratio (rows-only: zlib and the greedy solve have
# no SQL spelling).
# ---------------------------------------------------------------------------

# deterministic synthetic hosts for the web-ingest query: two blocked
# (one exact, one by subdomain), two surviving
_WEB_HOSTS = ["Blocked.Example.com", "sub.Tracker.net", "good.org", "news.site.io"]
_WEB_BLOCKLIST = ["tracker.net", "blocked.example.com"]


def _q_web_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl admission in ONE pass (functions/web.py + text.py):
    deterministic in-plan URLs (mixed-case scheme/host, default port,
    tracking params, fragment) ride normalize_url + domain_of; a
    broadcast blocklist drops two of four host classes (one exact match,
    one via the subdomain suffix walk -- never an endswith nested-loop);
    survivors' text gets a planted fullwidth 'A' (U+FF21) and runs
    through the NFKC normalize_unicode mapInPandas boundary.  The oracle
    replays the URL algebra in string SQL and pins NFKC by the planted
    char's known canonical form -- the corpus text is pure ASCII
    (verified), so the normalized text is exactly text || 'A' with
    n_changed = 1 everywhere (0 for NULL text, where concat propagates
    the NULL and nothing is appended)."""
    d = _docs(spark, sf_dir)
    host = F.element_at(
        F.array(*[F.lit(h) for h in _WEB_HOSTS]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    url = F.concat(
        F.lit("HTTP://"), host, F.lit(":80/path/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=x&id="), (F.col("doc_id") % 50).cast("string"),
        F.lit("#frag"),
    )
    d = d.select(
        "doc_id",
        F.concat(F.col("text"), F.lit("Ａ")).alias("text"),
        url.alias("url"),
    )
    bl = spark.createDataFrame([(b,) for b in _WEB_BLOCKLIST], ["domain"])
    kept = filter_blocked_domains(d, bl, url_col="url")
    kept = kept.select(
        "doc_id",
        normalize_url("url").alias("url_norm"),
        domain_of("url").alias("domain"),
        "text",
    )
    out = normalize_unicode(kept)
    return out.select(
        "doc_id", "url_norm", "domain",
        F.col("text").alias("text_norm"),
        F.col("n_changed").cast("int").alias("n_changed"),
    )


_NB_FEATURES = 1 << 12


def _q_nb_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB hashed-ngram quality classifier, trained AND applied in-plan
    (functions/classifier.py): label = doc_id % 2 (classes share the
    synthetic vocabulary, so this pins the count/smoothing/log-odds
    arithmetic, not separability), md5 hashing for oracle replay.  The
    oracle re-derives the whole model in SQL -- hashed unigram+bigram
    counts, smoothed log-odds, per-doc score -- with the repo's
    fixed-point rounding (weights 1e-9, scores re-rounded 1e-6 so
    double accumulation order cannot flip the compare).

    r19: train and apply consume ONE materialized feature frame
    (``features_col``) -- the md5 hashed-ngram featurize is the
    dominant per-row cost here and used to run twice (once inside
    train_nb_quality, once inside apply_nb_quality) over the same
    corpus; the lazy localCheckpoint computes the arrays once and both
    passes explode the identical bigints, so counts, weights and scores
    are unchanged."""
    d = _docs(spark, sf_dir)
    feats = d.select(
        "doc_id",
        (F.col("doc_id") % 2).cast("int").alias("label"),
        hashed_ngram_features("text", _NB_FEATURES).alias("__feats"),
    ).localCheckpoint(eager=False)
    weights, info = train_nb_quality(
        feats, n_features=_NB_FEATURES, features_col="__feats"
    )
    scored = apply_nb_quality(
        feats.select("doc_id", "__feats"), weights, info, features_col="__feats"
    )
    return scored.select("doc_id", F.round("nb_score", 6).alias("nb_score"))


def _q_decontaminate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus benchmark decontamination
    (functions/dedup.py:cross_corpus_decontaminate): every 10th doc
    plays the eval suite (id-shifted), the full corpus plays train; the
    eval band table broadcasts and the train side is map-only.  Output
    is the contaminated-pair report.  r14 registry fold: absorbs the
    retired ``contamination_check`` slot's decontamination duty at doc
    level (phrase-level n-gram overlap stays driver-checked inside
    ``curation_pipeline``, whose single-pass plan embeds the identical
    %25 eval split + broadcast gram anti-join)."""
    d = _docs(spark, sf_dir)
    ev = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    _, pairs = cross_corpus_decontaminate(d, ev)
    return pairs.select("doc_id", "eval_doc_id", "agreement")


def _q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-guarded train/valid/test split
    (functions/sampling.py:leakage_free_split): the deterministic
    hash_split assignment (same _SPLITS/seed as the retired
    ``dataset_split`` -- this query is its strict superset, stage 1
    identical) followed by the cross-split MinHash twin guard: any
    TRAIN doc near-duplicate (signature agreement >= 0.8) to a held-out
    doc is dropped; the held-out copy stays.  The size gate counts the
    holdout and picks broadcast here (500-5000 rows); above
    gating.BROADCAST_MAX_ROWS the same call falls back to a band_key
    shuffle join (plan-pinned in tests/test_plan_shapes.py)."""
    d = _docs(spark, sf_dir)
    out, _ = leakage_free_split(d, _SPLITS, seed=42, min_agreement=0.8)
    return out.select("doc_id", "split")


def _q_upsample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fractional upsampling composed with the epoch
    shuffle -- the training-prep order (functions/sampling.py:upsample
    -> functions/ordering.py:epoch_shuffle): each doc emits
    floor(factor) copies plus a hash-decided fractional one, then every
    (doc, copy) gets its md5 epoch-order key and shard, spreading the
    copies apart instead of training on them back-to-back.  One hash
    exchange total; both stages are row-local arithmetic."""
    d = _docs(spark, sf_dir)
    w = d.select(
        "doc_id", ((F.col("doc_id") % 30) / F.lit(10.0)).alias("factor")
    )
    copies = upsample(w, "factor")
    keyed = copies.withColumn(
        "pkey",
        F.concat(
            F.col("doc_id").cast("string"), F.lit("#"),
            F.col("copy_idx").cast("string"),
        ),
    )
    shuffled = epoch_shuffle(keyed, key_col="pkey", seed=11, epoch=2, n_shards=8)
    return shuffled.select("doc_id", "copy_idx", "epoch_order", "shard")


def _q_importance_resample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel top-k importance resampling, exact path
    (functions/sampling.py:importance_resample): weighted sampling
    without replacement via hash-derived Gumbel keys over synthetic
    log-weights (doc_id % 7) -- deterministic, so the oracle sorts the
    same keys.  The exact path's distributed partial top-k
    (TakeOrderedAndProject) is the oracle-friendly spelling; the
    default approx-cutoff path (broadcast percentile + row-local
    filter) is the 100 TB one and stays bench/unit-pinned."""
    d = _docs(spark, sf_dir)
    lw = d.select(
        "doc_id", (F.col("doc_id") % 7).cast("double").alias("log_weight")
    )
    out = importance_resample(lw, fraction=0.2, seed=5, exact=True)
    return out.select("doc_id")


def _q_incremental_minhash_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-crawl NEAR-dup admission gate
    (functions/dedup.py:build_minhash_band_store +
    incremental_minhash_dedup): even docs seed the persisted
    band_key-bucketed store, odd docs arrive as the batch; survivors
    have no store near-match (band collision + signature agreement >=
    0.7) and win their within-batch cluster (min-id keep rule).  The
    store-side join reads the bucket layout with zero store exchange
    (plan-pinned in tests/test_plan_shapes.py).  r14 registry fold
    note: the banding + min-label clustering this gate runs per batch
    are the same stages the retired ``minhash_lsh_pairs`` /
    ``dedup_clusters`` slots checked standalone (both remain stage 1+2
    of ``fuzzy_dedup_keep``, still in-window).  The oracle re-derives
    signatures, store hits (exact k/16 agreement -- binary-exact
    division), the batch pair graph, and the recursive-CTE components."""
    d = _docs(spark, sf_dir)
    store_docs = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    tbl = f"mh_gate_store_q_{key}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_mh_gate_{key}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    build_minhash_band_store(store_docs, tbl, path, n_buckets=8, epoch=-1)
    out = incremental_minhash_dedup(batch, tbl)
    return out.select("doc_id")


def _q_top_terms_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter vocabulary fused across two rankings
    (functions/profile.py:top_terms + functions/retrieval.py:rrf_fuse):
    term-frequency top-50 and document-frequency top-50, reciprocal-rank
    fused (k=60) to the final top-30 -- the profiling spelling of the
    hybrid-retrieval combiner (rank-only inputs, no score rescaling).
    Both rankings bound to 50 rows before any single-partition window
    touches them."""
    d = _docs(spark, sf_dir)
    tf = top_terms(d, k=50)
    w1 = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    r1 = tf.select("term", F.row_number().over(w1).alias("rank"))
    toks = d.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).select("doc_id", lower_ascii(F.col("term")).alias("term"))
    dfc = toks.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("nd"))
    top_df = dfc.orderBy(F.col("nd").desc(), F.col("term").asc()).limit(50)
    w2 = Window.orderBy(F.col("nd").desc(), F.col("term").asc())
    r2 = top_df.select("term", F.row_number().over(w2).alias("rank"))
    return rrf_fuse([r1, r2], id_col="term", k=60, topk=30)


def _q_pack_bins_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPFHP whole-document bin packing (functions/packing.py:
    histogram_pack, seq_len=128), reported per bin: doc count, token
    sum (<= seq_len by the solver's contract), any-truncated flag.
    The oracle replays the ENTIRE deterministic pipeline in DuckDB --
    length histogram, the shortest-pack-first greedy over list-state
    in a recursive CTE, the bin-merge post-pass in a second recursive
    CTE, the canonical segment table via window functions, and the
    rank-arithmetic doc->bin assignment -- so the driver's hash check
    covers the solver itself, not just frame shape (VERDICT r14 ask
    #1; the zlib compression-ratio column the r14 shape carried was
    dropped: zlib has no SQL spelling and the signal is already
    driver-covered inside web_ingest_pipeline).  Fixed-width
    comma-encoded patterns make DuckDB string order equal Python tuple
    order, so the greedy's tie-breaks agree bit-for-bit; equivalence
    is fuzzed over random histograms in
    tests/test_packing.py::test_spfhp_oracle_sql_fuzz.  bucket_size is
    pinned ABOVE any driver corpus so the engine's two-phase rank runs
    its single-bucket regime (rank == plain doc_id order, which is
    what the oracle's row_number computes); the multi-bucket
    hash-rank path has no SQL spelling (no xxhash64 in DuckDB) and
    stays pinned by tests/test_packing.py's plan + invariant tests."""
    d = _docs(spark, sf_dir)
    assigned, _stats = histogram_pack(
        d, seq_len=128, bucket_size=1_000_000_000
    )
    return assigned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.max(F.col("truncated").cast("int")).alias("any_truncated"),
    )


def _q_pack_bins_exact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-exact bin materialization contract (functions/packing.py:
    pack_bins_exact, VERDICT r15 ask #6): pack the documents corpus
    under the same single-bucket SPFHP assignment as pack_bins_report
    (seq_len=128 sits above this corpus's longest document, so the
    no-truncation precondition holds -- the materializer RAISES
    otherwise), then verify THE contract inside the hash-checked row:
    for every member, ``substring(packed_text, char_base + 1,
    length(text)) == text`` -- the property a downstream trainer's
    span re-basing depends on.  Output one row per bin: ``(bin_id,
    n_docs, n_tokens, packed_chars, packed_md5, all_roundtrip)`` --
    packed_md5 pins the exact packed bytes, all_roundtrip the offset
    arithmetic.  The oracle shares the SPFHP assignment CTE chain with
    pack_bins_report and re-derives bins with an id-ordered
    string_agg, char bases with a running-sum window, and the same
    bool_and roundtrip check.

    r16 registry fold: the slot retires ``text_stats`` -- its
    token_count column is doc_signals' n_ws_tokens (identical body),
    its punct_count body rides inside doc_signals' quality term, and
    its md5 content fingerprint is corpus_diff_status's old_fp/new_fp
    (emitted raw and hash-pinned).

    Scale shape: pack_bins_exact's one id-keyed equi-join + one
    bin-keyed shuffle carrying each text once; the roundtrip check
    joins the exploded (id, char_base) pairs back to the slim
    (id, text) projection and aggregates per bin."""
    d = _docs(spark, sf_dir)
    # the packable subset: byte-exact packing REFUSES to clip, so the
    # registered query packs only docs that fit (the packer docstring's
    # "pre-filter upstream" duty, in lock-step with the oracle's
    # packable CTE).  On the committed corpus this drops nothing; on a
    # degenerate corpus it keeps the query total instead of raising.
    # NULL text drops too (NULL-propagating comparison in both engines).
    # The count is computed ONCE on a slim (id, count) frame and handed
    # to histogram_pack via n_tokens_col; only THAT frame is filtered --
    # pack_bins_exact's id-join against the assignment drops unpackable
    # docs for free, so the text-join path never tokenizes and the
    # filter buys no second pass (isolated probe: a naive re-tokenizing
    # filter on d cost 5.9 s vs the 3.3-4.7 s band).
    nt = d.select("doc_id", F.size(tokens("text")).alias("__nt")).filter(
        F.col("__nt") <= 128
    )
    assigned, _stats = histogram_pack(
        nt, seq_len=128, bucket_size=1_000_000_000, n_tokens_col="__nt"
    )
    # lazy checkpoint: the header columns and the exploded char_bases
    # both read the bin-assembly aggregate -- materialize it once
    packed = pack_bins_exact(d, assigned).localCheckpoint(eager=False)
    # the roundtrip verification joins only SLIM (bin_id, id,
    # char_base) triples to (id, text), regroups members per bin, and
    # ships each packed string ONCE per bin into a forall over the
    # member array (an earlier spelling replicated packed_text onto
    # every member row through the id-keyed exchange)
    member = packed.select(
        "bin_id", F.explode("char_bases").alias("cb")
    ).join(
        d.select(F.col("doc_id").alias("__id"), "text"),
        F.col("cb.id") == F.col("__id"),
    )
    per_bin = member.groupBy("bin_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("cb.char_base").alias("base"),
                    F.col("text").alias("t"),
                )
            )
        ).alias("__ms")
    )
    ok = F.forall(
        F.col("__ms"),
        lambda m: F.col("packed_text").substr(
            m["base"].cast("int") + 1, F.length(m["t"])
        )
        == m["t"],
    )
    check = per_bin.join(
        packed.select("bin_id", "packed_text"), "bin_id"
    ).select("bin_id", ok.alias("all_roundtrip"))
    return packed.select(
        "bin_id",
        "n_docs",
        "n_tokens",
        F.length("packed_text").cast("bigint").alias("packed_chars"),
        F.md5("packed_text").alias("packed_md5"),
    ).join(check, "bin_id")


def _q_corpus_diff_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-crawl snapshot diff (functions/profile.py:corpus_diff):
    derived old/new snapshots of documents -- every 10th doc absent
    from OLD (so it classifies 'added'), every (10k+1)th absent from
    NEW ('removed'), every (10k+2)th edited ('changed') -- classified
    added/removed/changed/unchanged with both md5 fingerprints in the
    output, so the driver hash pins the fingerprint normalization too.
    Scale shape: each side projects to (id, 16-byte fp) BEFORE the
    full-outer join; text never rides the exchange (plan-pinned in
    tests/test_plan_shapes.py); zero-exchange over id-bucketed
    snapshots.  Oracle: the same derivation + full-outer join in SQL
    (first committed in tests/test_oracle_r13b.py, r14)."""
    d = _docs(spark, sf_dir)
    old = d.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    new = d.filter(F.col("doc_id") % 10 != 1).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 2,
            F.concat(F.col("text"), F.lit(" edited")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return corpus_diff(old, new)


def _q_curriculum_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum ordering (functions/ordering.py:
    curriculum_order): stage from one broadcast percentile_approx cut
    frame (row-local cut counting -- no window, no global sort), the
    md5 epoch_order key, and the shard assignment.  The oracle
    re-derives all three in SQL (quantile_disc == percentile_approx at
    this n is probed+pinned in tests/test_oracle_r13b.py, where this
    oracle was first committed in r14).  Registry fold: absorbs the
    retired ``value_percentiles`` slot's percentile duty -- the cut
    computation IS a percentile aggregate, and the interpolated
    variant stays oracle-checked inside ``quality_buckets``'s
    quality_bucket_cuts stage."""
    d = _docs(spark, sf_dir)
    scored = d.select("doc_id", (F.col("doc_id") % 97).alias("score"))
    return curriculum_order(
        scored, "score", n_stages=4, n_shards=8, seed=11, epoch=2
    ).select("doc_id", "score", "stage", "epoch_order", "shard")


def _q_connected_components_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-facing connected components (functions/graph.py:
    connected_components) over a deterministic edge list derived from
    documents: five disjoint vertex classes (node ids congruent mod 5)
    each carrying the functional graph x -> 3x on Z7 (one 6-cycle
    component + the x=0 self-loop singleton per class), plus three
    pure self-loop nodes -- pinning min-label choice, component
    disjointness, and the singleton completion dedup does not need.
    Oracle: recursive-CTE reachability closure + min per node (the
    incremental_minhash_gate idiom)."""
    d = _docs(spark, sf_dir)
    g = (F.col("doc_id") % 5).cast("bigint")
    edges = d.select(
        (g + 5 * (F.col("doc_id") % 7)).alias("src"),
        (g + 5 * ((F.col("doc_id") * 3) % 7)).alias("dst"),
    ).unionByName(
        d.select(
            (F.lit(100) + F.col("doc_id") % 3).alias("src"),
            (F.lit(100) + F.col("doc_id") % 3).alias("dst"),
        )
    )
    return connected_components(edges)


_PR_DOMAINS = 12
_PR_ITERS = 5


def _q_domain_pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level link-graph reputation (functions/graph.py:
    domain_pagerank -> pagerank): deterministic in-plan pages -- each
    doc lives on domain d{doc_id%12}.example and links to the next
    ring domain, a mod-7 hub class, and a pure-sink domain with no
    outlinks (so the dangling-mass redistribution path is exercised,
    not just the inflow sum).  extract_links (codegen regex) and
    domain_of run inside the plan; the oracle re-derives the edge list
    arithmetically and unrolls the 5 rank iterations as chained CTEs
    with the same dangling-mass term (the bpe_train merge-round
    idiom).  Scale shape: pagerank caches the partitioned edge layout
    once; each iteration pays one slim rank shuffle (measured flat
    1e6->1e8 edges, R14_OPS_SCALE.json)."""
    d = _docs(spark, sf_dir)
    hc = F.col("doc_id") % _PR_DOMAINS
    url = F.concat(
        F.lit("https://d"), hc.cast("string"), F.lit(".example/p/"),
        F.col("doc_id").cast("string"),
    )
    link = lambda dom: F.concat(  # noqa: E731
        F.lit('<a href="https://'), dom, F.lit('.example/x">l</a>')
    )
    html = F.concat(
        link(F.concat(F.lit("d"), ((hc + 1) % _PR_DOMAINS).cast("string"))),
        link(F.concat(F.lit("d"), (F.col("doc_id") % 7).cast("string"))),
        link(F.lit("sink")),
    )
    pages = d.select(url.alias("url"), html.alias("html"))
    ranks = domain_pagerank(pages, iters=_PR_ITERS)
    return ranks.select("domain", F.round("rank", 6).alias("rank"))


_CRAWL_ROBOTS = [
    # prefix rules + longest-match Allow override
    ("h0.example.com", "User-agent: *\nDisallow: /p/\nAllow: /p/1"),
    # agent-specific group replaces '*' (RFC 9309 group selection)
    ("h1.example.com",
     "User-agent: graftbot\nDisallow: /p/3\nUser-agent: *\nDisallow: /"),
    # DECLARED-EMPTY graftbot group = fully allowed, NOT fallback to '*'
    # (the empty Disallow: line is no rule but does close the header run)
    ("h2.example.com",
     "User-agent: graftbot\nDisallow:\nUser-agent: *\nDisallow: /"),
    # blanket block, including the domain's own sitemap refs
    ("h3.example.com", "User-agent: *\nDisallow: /"),
    # h4.example.com has no robots row: fully allowed
]


def _q_crawl_frontier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier admission end to end (functions/web.py):
    deterministic per-host sitemap XML is built in-plan (one urlset per
    host h{doc_id%5}.example.com plus a sitemapindex referencing it),
    parse_sitemaps explodes both (nested refs come out kind='sitemap'),
    normalize_url drops the planted utm tracking param, and
    filter_robots_allowed applies RFC 9309 politeness for agent
    'graftbot': longest-match Allow override (h0), agent-specific group
    selection (h1), the declared-EMPTY-group = allow-all edge case
    (h2), blanket block (h3), and the no-robots default (h4).  The
    oracle replays URL construction and each domain's rule outcome in
    SQL.  Scale shape: XML parse is the honest Arrow-batched UDF
    boundary; rules collapse to one slim row per domain and broadcast
    under the size gate (one count job); the frontier never shuffles."""
    d = _docs(spark, sf_dir)
    hc = (F.col("doc_id") % 5).cast("string")
    loc = F.concat(
        F.lit("https://h"), hc, F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"), F.lit("?utm_source=s"),
    )
    entry_xml = F.concat(
        F.lit("<url><loc>"), loc, F.lit("</loc><priority>0."),
        (F.col("doc_id") % 9).cast("string"), F.lit("</priority></url>"),
    )
    per_host = (
        d.select(hc.alias("hc"), entry_xml.alias("x"))
        .groupBy("hc")
        .agg(F.concat_ws("", F.array_sort(F.collect_list("x"))).alias("body"))
        # materialized once (lazy): BOTH the urlset and sitemapindex
        # frames read it -- without the checkpoint the corpus scan +
        # per-host aggregate lineage runs twice (multi-reference plans
        # recompute; the incremental-gate `fresh` precedent)
        .localCheckpoint(eager=False)
    )
    urlsets = per_host.select(
        F.concat(
            F.lit("https://h"), F.col("hc"),
            F.lit(".example.com/sitemap-pages.xml"),
        ).alias("sitemap_url"),
        F.concat(
            F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
            F.col("body"), F.lit("</urlset>"),
        ).alias("sitemap_xml"),
    )
    indexes = per_host.select(
        F.concat(
            F.lit("https://h"), F.col("hc"), F.lit(".example.com/sitemap.xml")
        ).alias("sitemap_url"),
        F.concat(
            F.lit('<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                  "<sitemap><loc>https://h"),
            F.col("hc"),
            F.lit(".example.com/sitemap-pages.xml</loc></sitemap>"
                  "</sitemapindex>"),
        ).alias("sitemap_xml"),
    )
    entries = parse_sitemaps(urlsets.unionByName(indexes))
    pages = entries.select(
        "kind", normalize_url(F.col("loc")).alias("url"), "priority"
    )
    robots = spark.createDataFrame(
        _CRAWL_ROBOTS,
        "domain string, robots_txt string",
    )
    polite = filter_robots_allowed(pages, robots, user_agent="graftbot")
    return polite.select(
        "kind",
        "url",
        domain_of("url").alias("domain"),
        F.when(
            F.col("kind") == "url",
            F.regexp_extract("url", r"/p/(\d+)", 1).cast("bigint"),
        ).alias("page_id"),
        "priority",
    )


def _q_main_content_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction -> markup cleaning, composed the way a
    crawl funnel runs them (functions/text.py:extract_main_content then
    strip_markup): each doc's text is wrapped in a deterministic page
    (head/title chrome, a short link-saturated nav, the prose block
    carrying planted entities, a link-dense card div above the 0.3
    density cap, a short footer); the extractor must keep exactly the
    prose block, and the strip stage then decodes the planted
    ``&lt;``/``&amp;amp;`` entities (one level only).  Output pins the
    kept text, kept-char count, kept_frac chrome signal, and the strip
    stage's net shrink.  Registry fold: absorbs the retired
    ``strip_markup`` slot (the strip stage here runs the identical
    entity ladder + tag/whitespace chain on every row).  Oracle:
    block outcomes replayed in SQL -- the fixture makes each block's
    keep/drop decision closed-form, and the page-total denominator is
    recomputed by applying the same tag->space + collapse regex chain
    to the same SQL-built page string."""
    d = _docs(spark, sf_dir)
    page = F.concat(
        F.lit("<html><head><title>Site "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('</title></head><body>'
              '<nav><a href="/">Home</a> <a href="/about">About</a>'
              ' <a href="/tags">Tags</a></nav><p>'),
        F.col("text"),
        F.lit(" x &lt; y &amp;amp; z</p>"
              '<div><a href="/p1">rel one</a> <a href="/p2">rel two</a>'
              " and more chrome</div>"
              "<footer>(c) 2026 example site</footer></body></html>"),
    )
    main = extract_main_content(d.select("doc_id", page.alias("text")))
    cleaned = strip_markup(main).select(
        "doc_id", "text", "n_chars_removed"
    )
    return (
        main.select("doc_id", "n_kept_chars", "kept_frac")
        .join(cleaned, "doc_id")
        .select(
            "doc_id", "text", "n_kept_chars", "kept_frac", "n_chars_removed"
        )
    )


def _q_sft_pack_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SFT trainer's final deliverable end to end (functions/
    chat.py:pack_conversations_with_spans): the same deterministic
    wire-round-tripped conversations as ``sft_turn_spans``, rendered to
    training strings, SPFHP-packed BYTE-EXACTLY into seq_len=192 bins
    (above this corpus's longest rendered conversation -- byte-exact
    packing cannot clip), and every turn's loss-mask span RE-BASED into
    its bin's packed string.  One row per turn: ``(bin_id, conv_id,
    turn_idx, role, loss_mask, n_chars, abs_start, abs_end, span_ok)``
    where span_ok checks THE invariant in-row:
    ``substring(packed_text, abs_start + 1, n_chars) == content``.

    Registered r16b below the driver window, rotated IN-window for r17
    (tests/test_oracle_parity.py::test_driver_window_covers_r17_rotation)
    where its first driver row lands.  r17 also folds sft_turn_spans
    into this query (R17_FOLDED): the re-based spans are char_base +
    the SAME per-turn offset arithmetic, and span_ok re-verifies every
    content span against the packed string in-row, so the retired
    query's turn/offset contract stays hash-checked here.  The oracle
    replays the turn
    derivation (the retired sft_turn_spans CTEs), re-renders each conversation
    with an ordered string_agg under the module's fixed header/SEP
    convention, re-runs the ENTIRE SPFHP solve over the rendered
    lengths (_sql_spfhp_ctes at seq_len=192), and re-bases spans with
    the same running-sum window as the pack_bins_exact oracle.

    Scale shape: rendering and span arithmetic row-local; packing one
    id-keyed join + ONE bin-keyed shuffle of each rendered string; the
    re-basing join ships slim (bin_id, id, char_base) triples; the
    span_ok verification joins packed strings back per bin (driver-
    checkable spelling -- a production trainer consumes the two frames
    directly and never re-joins content)."""
    d = _docs(spark, sf_dir)
    toks = tokens("text")
    # packable subset, same duty as pack_bins_exact_roundtrip: the
    # byte-exact packer refuses to clip, so only conversations that fit
    # seq_len=192 are built.  Filtering at the SOURCE on the doc token
    # count is exact for THIS construction -- the render emits at most
    # n + 8 whitespace tokens (base turns glue role headers onto the
    # first content token: n + 2; the every-3rd-doc extra turns add 6)
    # -- so n <= 150 guarantees rendered <= 158 < 192.  A rendered-
    # length filter would re-render every conversation (isolated probe:
    # 11.0 s vs the 3.5-4.5 s band); this one rides the tokens() the
    # construction already computes.  NULL text drops (NULL size).
    # Drops nothing on the committed corpus; the oracle applies the
    # identical bound on its cbase CTE.
    d = d.filter(F.size(toks) <= 150)
    u1 = F.concat_ws(" ", F.slice(toks, F.lit(1), F.lit(8)))
    a1 = F.concat_ws(
        " ",
        F.slice(toks, F.lit(9), F.greatest(F.size(toks) - F.lit(8), F.lit(0))),
    )
    a2 = F.concat_ws(" ", F.slice(toks, F.lit(1), F.lit(4)))

    def _turn(role: str, content) -> Column:
        return F.struct(F.lit(role).alias("role"), content.alias("content"))

    base = F.array(
        _turn("system", F.lit("Be concise.")),
        _turn("user", u1),
        _turn("assistant", a1),
    )
    extra = F.array(_turn("user", F.lit("And then?")), _turn("assistant", a2))
    convs = d.select(
        F.col("doc_id").alias("conv_id"),
        F.to_json(
            F.when(F.col("doc_id") % 3 == 0, F.concat(base, extra)).otherwise(
                base
            )
        ).alias("conversation"),
    )
    parsed = parse_conversations(convs)
    bins, spans, _stats = pack_conversations_with_spans(
        parsed, seq_len=192, bucket_size=1_000_000_000
    )
    content = conversation_turns(parsed).select(
        "conv_id", "turn_idx", "content"
    )
    return (
        spans.join(bins.select("bin_id", "packed_text"), "bin_id")
        .join(content, ["conv_id", "turn_idx"])
        .select(
            "bin_id",
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            "role",
            "loss_mask",
            "n_chars",
            F.col("abs_start").cast("bigint").alias("abs_start"),
            F.col("abs_end").cast("bigint").alias("abs_end"),
            (
                F.col("packed_text").substr(
                    F.col("abs_start").cast("int") + 1,
                    F.col("n_chars").cast("int"),
                )
                == F.col("content")
            ).alias("span_ok"),
        )
    )


def _q_embedding_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus moments (functions/embedding.py:
    embedding_moments -- the one-pass mean/covariance scan that feeds
    PCA/whitening training): per-dimension mean and population variance
    from the mapInPandas partial pass (ONE partial row per partition --
    d + d*d doubles -- combined on the driver; a 100 TB corpus costs
    one scan and zero exchanges), joined onto an in-plan per-dimension
    min/max/count aggregate (posexplode -> map-side-combined hash agg)
    through a broadcast of the 64-row moment frame.  The eigensolve
    itself has no SQL spelling (train_pca_whitening stays property- and
    ladder-tested: tests/test_embedding.py, EMB_SCALE.json); the
    moments it consumes are checked here value-exactly.  The oracle
    unnests the vectors WITH ORDINALITY and replays the identical
    sum-of-products arithmetic."""
    import numpy as np

    # finite subset: moments raise on NaN/Inf vectors (they would
    # poison every dimension); oracle mirrors via embeddings_f
    emb = _embs_finite(spark, sf_dir)
    mean, cov, n = embedding_moments(emb)
    var = np.ascontiguousarray(np.diag(cov))
    mean_r = round_half_away(mean, 6)
    var_r = round_half_away(var, 6)
    local = spark.createDataFrame(
        [
            (int(i), float(mean_r[i]), float(var_r[i]))
            for i in range(mean.shape[0])
        ],
        "dim int, mean_v double, var_v double",
    )
    ex = emb.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim", F.col("v").cast("double").alias("v")
    )
    mm = ex.groupBy("dim").agg(
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
        F.count(F.lit(1)).alias("n"),
    )
    return mm.join(F.broadcast(local), "dim").select(
        "dim", "mean_v", "var_v", "min_v", "max_v", "n"
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- driver check window (first 50, verified in declaration order).
    # r19 rotation (VERDICT r18 ask #3, executed untouched): the other
    # half of the exact TWO-round full-coverage cycle -- 6 pinned
    # parity + 2 x 44 rotating slots -- swings the 44 queries green in
    # r17's own window back in-window, so r18 union r19 covers all 94
    # AND lands the driver's correctness check on the 15 paths whose
    # plans changed in r18 without a post-change driver row
    # (domain_pagerank_ranks, crawl_frontier_gate, lm_ppl_buckets,
    # incremental_dedup, curation_pipeline, boilerplate_line_dedup,
    # connected_components_labels, sft_pack_spans, substring_dedup_cut,
    # token_budget_mixture, doc_signals, paragraph_dedup,
    # curriculum_assignment, embedding_moments, embedding_quantize --
    # all in this half).  No r19 registration and no fold: the registry
    # holds at 94.
    # reference parity (6, always in-window)
    "user_address_counts": _q_user_address_counts,
    "count_by_state": _q_count_by_state,
    "count_by_country": _q_count_by_country,
    "windowed_count_by_type": _q_windowed_count_by_type,
    "stateful_join_trace": _q_stateful_join_trace,
    "windowed_trace_inflation": _q_windowed_trace_inflation,
    # the 44 queries green in r17's own window -- r19's window
    # (the r15-green rotating slots minus R17_FOLDED, plus
    # sft_pack_spans and substring_dedup_cut); this half carries 15
    # paths whose plans changed in r18 with no post-change driver
    # row (VERDICT r18 ask #3: pagerank, crawl gate, lm_ppl, ...)
    "token_budget_mixture": _q_token_budget_mixture,
    "image_phash_pairs": _q_image_phash_pairs,
    "audio_fingerprint_pairs": _q_audio_fingerprint_pairs,
    "boilerplate_line_dedup": _q_boilerplate_line_dedup,
    "per_source_cap": _q_per_source_cap,
    "incremental_dedup": _q_incremental_dedup,
    "doc_signals": _q_doc_signals,
    "paragraph_dedup": _q_paragraph_dedup,
    "curation_pipeline": _q_curation_pipeline,
    "embedding_quantize": _q_embedding_quantize,
    "q1_pricing_summary": _q_q1_pricing_summary,
    "q2_min_cost_supplier": _q_q2_min_cost_supplier,
    "q3_shipping_priority": _q_q3_shipping_priority,
    "q4_order_priority": _q_q4_order_priority,
    "q5_local_supplier_volume": _q_q5_local_supplier_volume,
    "q6_forecast_revenue": _q_q6_forecast_revenue,
    "q7_volume_shipping": _q_q7_volume_shipping,
    "q8_market_share": _q_q8_market_share,
    "q9_profit_by_nation_year": _q_q9_profit_by_nation_year,
    "q10_returned_items": _q_q10_returned_items,
    "q11_important_part_values": _q_q11_important_part_values,
    "q13_customer_distribution": _q_q13_customer_distribution,
    "q14_promo_revenue": _q_q14_promo_revenue,
    "q15_top_supplier": _q_q15_top_supplier,
    "q16_parts_supplier_counts": _q_q16_parts_supplier_counts,
    "q17_small_quantity_revenue": _q_q17_small_quantity_revenue,
    "q18_large_volume_customers": _q_q18_large_volume_customers,
    "q19_discounted_revenue": _q_q19_discounted_revenue,
    "q20_promo_heavy_suppliers": _q_q20_promo_heavy_suppliers,
    "q21_sole_blame_supplier": _q_q21_sole_blame_supplier,
    "q22_global_sales_opportunity": _q_q22_global_sales_opportunity,
    "interval_view_purchase": _q_interval_view_purchase,
    "pivot_priority_status": _q_pivot_priority_status,
    "window_function_showcase": _q_window_function_showcase,
    "crawl_frontier_gate": _q_crawl_frontier_gate,
    "main_content_extract": _q_main_content_extract,
    "domain_pagerank_ranks": _q_domain_pagerank_ranks,
    "connected_components_labels": _q_connected_components_labels,
    "corpus_diff_status": _q_corpus_diff_status,
    "curriculum_assignment": _q_curriculum_assignment,
    "embedding_moments": _q_embedding_moments,
    "lm_ppl_buckets": _q_lm_ppl_buckets,
    # r16b registration (first driver row r17); carries the R17_FOLDED
    # sft_turn_spans contract via the in-row span_ok replay
    "sft_pack_spans": _q_sft_pack_spans,
    # r17 registration (paid by R17_FOLDED: sft_turn_spans; first
    # driver row r17)
    "substring_dedup_cut": _q_substring_dedup_cut,
    # --- below the 50-row window: the 44 queries green in r18's own
    # window (CORRECTNESS_r18.json minus the 6 pinned) -- r20's
    # rotating slots ---
    "events_json_extract": _q_events_json_extract,
    "cube_order_stats": _q_cube_order_stats,
    "running_customer_revenue": _q_running_customer_revenue,
    "set_ops_customers": _q_set_ops_customers,
    "orders_above_customer_avg": _q_orders_above_customer_avg,
    "scalar_function_showcase": _q_scalar_function_showcase,
    "grouping_sets_revenue": _q_grouping_sets_revenue,
    "scd2_customer_segments": _q_scd2_customer_segments,
    "similarity_ivfpq_topk": _q_similarity_ivfpq_topk,
    "multimodal_pixel_roundtrip": _q_multimodal_pixel_roundtrip,
    "audio_features_real": _q_audio_features_real,
    "gopher_quality": _q_gopher_quality,
    "chunk_manifest": _q_chunk_manifest,
    "cluster_balanced_sample": _q_cluster_balanced_sample,
    "substring_dup_spans": _q_substring_dup_spans,
    "similarity_ivf_trained": _q_similarity_ivf_trained,
    "semantic_dedup": _q_semantic_dedup,
    "bm25_search": _q_bm25_search,
    "pack_bins_exact_roundtrip": _q_pack_bins_exact_roundtrip,
    "profile_funnel": _q_profile_funnel,
    "winnow_fingerprints": _q_winnow_fingerprints,
    "bpe_apply_docs": _q_bpe_apply_docs,
    "dedup_exact": _q_dedup_exact,
    "fuzzy_dedup_keep": _q_fuzzy_dedup_keep,
    "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
    "simhash_pairs": _q_simhash_pairs,
    "embedding_near_dup_lsh": _q_embedding_near_dup_lsh,
    "similarity_topk": _q_similarity_topk,
    "multimodal_meta": _q_multimodal_meta,
    "pii_redact": _q_pii_redact,
    "repetition_stats": _q_repetition_stats,
    "unigram_lm_tokens": _q_unigram_lm_tokens,
    "q12_late_shipments": _q_q12_late_shipments,
    "session_window_stats": _q_session_window_stats,
    "asof_purchase_view": _q_asof_purchase_view,
    "web_ingest_pipeline": _q_web_ingest_pipeline,
    "nb_quality_scores": _q_nb_quality_scores,
    "decontaminate_pairs": _q_decontaminate_pairs,
    "leakage_split": _q_leakage_split,
    "upsample_epoch_shuffle": _q_upsample_epoch_shuffle,
    "importance_resample_docs": _q_importance_resample_docs,
    "incremental_minhash_gate": _q_incremental_minhash_gate,
    "top_terms_rrf": _q_top_terms_rrf,
    "pack_bins_report": _q_pack_bins_report,
}


# ===========================================================================
# Oracle SQL builders (DuckDB dialect = ANSI + list lambdas)
# ===========================================================================


def _sql_norm(col: str = "text") -> str:
    # norm_ws()'s oracle twin (the two flip together): collapse runs
    # FIRST (every edge char becomes a plain space), then trim -- so all
    # edge whitespace strips.  The old regexp_replace(trim(...)) order
    # kept a trailing space on \n-terminated text (r17).
    return f"trim(regexp_replace({col}, '\\s+', ' ', 'g'))"


def _sql_tokens(col: str = "text") -> str:
    # tokens()' oracle twin (the two flip together): empty tokens
    # dropped so edge whitespace can't mint phantom positions (r17)
    return (
        f"list_filter(regexp_split_to_array({col}, '\\s+'), "
        f"x -> x <> '')"
    )


def _sql_hits(toks_expr: str, words: list[str]) -> str:
    in_list = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks_expr}, t -> t IN ({in_list})))"


def _sql_lang_case() -> str:
    langs = list(STOPWORDS)
    hits = {lang: f"h_{lang}" for lang in langs}
    g = "greatest(" + ", ".join(hits.values()) + ")"
    branches = "\n".join(
        f"WHEN {hits[lang]} = {g} THEN '{lang}'" for lang in langs
    )
    return f"CASE WHEN {g} = 0 THEN 'und' {branches} END"


def _sql_md5_long(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def _sql_bpe_cte(n_merges: int) -> str:
    """Chained-CTE replica of text._bpe_rounds: one (word, count) vocab
    CTE, then per merge round a pair-count aggregate, a tie-broken
    argmax, and a list_reduce fold identical to the engine's."""
    parts = [
        f"WITH toks AS (SELECT unnest({_sql_tokens()}) AS word FROM documents),",
        "w0 AS (SELECT word, string_split(word, '') AS sym, count(*) AS cnt"
        " FROM toks GROUP BY word)",
    ]
    for r in range(1, n_merges + 1):
        parts.append(f""",
p{r} AS (
  SELECT sym[i] AS l, sym[i+1] AS r2, CAST(sum(cnt) AS BIGINT) AS c
  FROM w{r - 1}, unnest(range(1, len(sym))) AS t(i)
  GROUP BY 1, 2
),
b{r} AS (SELECT l, r2, c FROM p{r} ORDER BY c DESC, l, r2 LIMIT 1),
w{r} AS (
  SELECT word, string_split(
           list_reduce(sym, (acc, x) -> CASE
             WHEN regexp_extract(acc, '([^ ]*)$', 1) = b.l AND x = b.r2
             THEN regexp_replace(acc, '[^ ]*$', '') || b.l || b.r2
             ELSE acc || ' ' || x END), ' ') AS sym, cnt
  FROM w{r - 1} CROSS JOIN b{r} b
)""")
    return "\n".join(parts)


def _sql_shingles(n: int = 5, src: str = "documents") -> str:
    """CTE body producing (doc_id, shingle) distinct rows."""
    return f"""
norm AS (SELECT doc_id, {_sql_norm()} AS t FROM {src}),
sh AS (
  SELECT DISTINCT doc_id, substr(t, i, {n}) AS shingle
  FROM norm, unnest(range(1, greatest(length(t) - {n - 1}, 1) + 1)) AS u(i)
  WHERE length(substr(t, i, {n})) = {n}
)"""


def _sql_dot(a: str, b: str) -> str:
    """Sequential double-math dot product (matches Spark F.aggregate order)."""
    return f"list_sum(list_transform(list_zip({a}, {b}), p -> p[1]::DOUBLE * p[2]::DOUBLE))"


def _sql_sqnorm(a: str) -> str:
    return f"list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE))"


def _sql_cosine(a: str, b: str) -> str:
    # Zero-norm convention: cosine is 0.0, matching the engine's
    # NORM_FLOOR guard (similarity.py) -- a bare division would return
    # NULL in DuckDB (silent) and raise DIVIDE_BY_ZERO in Spark ANSI.
    return (
        f"(CASE WHEN {_sql_sqnorm(a)} = 0 OR {_sql_sqnorm(b)} = 0 THEN 0.0 "
        f"ELSE {_sql_dot(a, b)} / (sqrt({_sql_sqnorm(a)}) * sqrt({_sql_sqnorm(b)})) END)"
    )


def _sql_plane_bucket(vec: str, planes: list[list[float]]) -> str:
    bits = []
    for p in planes:
        arr = "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"
        bits.append(f"CASE WHEN {_sql_dot(vec, arr)} >= 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


_ALL_STOP = sorted({w for ws in STOPWORDS.values() for w in ws})
_STOP_IN = ", ".join(f"'{w}'" for w in _ALL_STOP)
_PLANES = make_planes(_EMB_DIM, _ANN_PLANES, seed=42)


def _sql_lsh_union_pairs(threshold: float) -> str:
    """Multi-table LSH pair query: per table t (planes seeded 42+t), a
    bucketed self-join emits thresholded pairs; UNION ALL over tables,
    DISTINCT on the pair.  Mirrors the Spark path's `lsh_tables`
    semantics exactly (functions/dedup.py: one (tbl, bucket) group per
    table, pair kept once if it collides anywhere)."""
    per_table = []
    for t in range(_ANN_TABLES):
        planes = make_planes(_EMB_DIM, _ANN_PLANES, seed=42 + t)
        per_table.append(f"""
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round({_sql_cosine("a.embedding", "b.embedding")}, 6) AS cosine
          FROM (SELECT vec_id, embedding,
                       {_sql_plane_bucket("embedding", planes)} AS bucket
                FROM embeddings) a
          JOIN (SELECT vec_id, embedding,
                       {_sql_plane_bucket("embedding", planes)} AS bucket
                FROM embeddings) b ON a.bucket = b.bucket
          WHERE a.vec_id < b.vec_id
            AND round({_sql_cosine("a.embedding", "b.embedding")}, 6) >= {threshold}
            -- NOT isnan: SQL orders NaN above +Inf, so a NaN cosine
            -- would pass the threshold here; the engine's numpy
            -- pairwise kernel follows IEEE (NaN pairs with nothing)
            AND NOT isnan(round({_sql_cosine("a.embedding", "b.embedding")}, 6))""")
    union = "\n          UNION ALL\n".join(per_table)
    return f"SELECT DISTINCT vec_a, vec_b, cosine FROM (\n{union}\n        )"

def _sql_ivf_trained_ctes(iters: int) -> str:
    """Unrolled Lloyd iterations mirroring train_ivf_centroids: cent0 =
    stride sample; per round, argmax-cosine assignment (6-digit rounding,
    ties to smaller cid) then per-dimension avg rounded to 6 -- emits
    cent{iters} as the final trained centroid CTE."""
    parts = [
        f"""cent0 AS (
          SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
          FROM embeddings WHERE vec_id % {_IVF_STRIDE} = 0
        )"""
    ]
    for it in range(iters):
        parts.append(f"""a{it} AS (
          SELECT vec_id, cid FROM (
            SELECT c.vec_id, k.cid,
                   row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY round({_sql_cosine("c.embedding", "k.cvec")}, 6) DESC,
                              k.cid ASC) AS rn
            FROM embeddings c CROSS JOIN cent{it} k
          ) WHERE rn = 1
        ),
        u{it} AS (
          SELECT a.cid, gs.i AS i,
                 round(avg(e.embedding[gs.i]::DOUBLE), 6) AS v
          FROM a{it} a
          JOIN embeddings e USING (vec_id)
          CROSS JOIN generate_series(1, {_EMB_DIM}) gs(i)
          GROUP BY a.cid, gs.i
        ),
        cent{it + 1} AS (
          SELECT cid, list(v ORDER BY i) AS cvec FROM u{it} GROUP BY cid
        )""")
    return ",\n        ".join(parts)


from data_stream_flink_user_address_spark.functions.dedup import (  # noqa: E402
    MINHASH_PRIME as _MINHASH_P,
    minhash_mix_params,
)

_MINHASH_PARAMS = minhash_mix_params(_MINHASH_K)

# shared CTE chain ending in ``pairs`` (the LSH candidate pairs) -- used
# by the minhash_lsh_pairs oracle and, under WITH RECURSIVE, by the
# dedup_clusters connected-components oracle
_MINHASH_PAIR_CTES = f"""{_sql_shingles(5)},
        hashed AS (
          SELECT doc_id,
                 ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h0
          FROM sh
        ),
        sig AS (
          SELECT doc_id,
                 [{", ".join(f"min(({a} * h0 + {b}) % {_MINHASH_P})" for a, b in _MINHASH_PARAMS)}] AS signature
          FROM hashed GROUP BY doc_id
        ),
        bands AS (
          SELECT doc_id,
                 md5(b.i::VARCHAR || ',' ||
                     array_to_string(signature[b.i * {_LSH_ROWS} + 1 : b.i * {_LSH_ROWS} + {_LSH_ROWS}], ',')) AS band_key
          FROM sig CROSS JOIN range({_LSH_BANDS}) b(i)
        ),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b USING (band_key)
          WHERE a.doc_id < b.doc_id
        )"""



def _sql_sig_agreement(a: str, b: str, k: int = 16) -> str:
    """Signature-agreement fraction, rounded like the engine's
    round(_sig_agreement, 9).  k is a power of two, so matches/k is a
    binary-exact double and threshold compares match across engines."""
    return (
        f"round(list_sum(list_transform(range(1, {k + 1}), "
        f"i -> CASE WHEN {a}[i] = {b}[i] THEN 1 ELSE 0 END)) / {k}.0, 9)"
    )


# sig + signature-carrying band rows over `documents` -- the shared CTE
# block for the r14 gate/guard oracles (the pair CTEs above drop the
# signature; these keep it for agreement rescoring)
_MINHASH_SIG_BAND_CTES = f"""{_sql_shingles(5)},
        hashed AS (
          SELECT doc_id,
                 ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h0
          FROM sh
        ),
        sig AS (
          SELECT doc_id,
                 [{", ".join(f"min(({a} * h0 + {b}) % {_MINHASH_P})" for a, b in _MINHASH_PARAMS)}] AS signature
          FROM hashed GROUP BY doc_id
        ),
        sbands AS (
          SELECT doc_id, signature,
                 md5(b.i::VARCHAR || ',' ||
                     array_to_string(signature[b.i * {_LSH_ROWS} + 1 : b.i * {_LSH_ROWS} + {_LSH_ROWS}], ',')) AS band_key
          FROM sig CROSS JOIN range({_LSH_BANDS}) b(i)
        )"""


def _sql_pagerank_ctes(iters: int) -> str:
    """Chained-CTE PageRank unroll for the domain_pagerank_ranks oracle
    (the _sql_bpe_cte idiom): deterministic edge derivation from
    documents, degree table, hoisted dangling set, then ``iters`` rank
    rounds with the same damping/dangling-mass arithmetic
    functions/graph.py:pagerank runs (init 1.0, rank = 0.15 + 0.85 *
    (inflow + m/n))."""
    parts = ["""
        WITH e0 AS (
          SELECT 'd' || (doc_id % 12) || '.example' AS src,
                 'd' || ((doc_id % 12 + 1) % 12) || '.example' AS dst
          FROM documents
          UNION ALL
          SELECT 'd' || (doc_id % 12) || '.example',
                 'd' || (doc_id % 7) || '.example' FROM documents
          UNION ALL
          SELECT 'd' || (doc_id % 12) || '.example', 'sink.example'
          FROM documents
        ),
        ed AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        nodes AS (SELECT DISTINCT src AS node FROM ed
                  UNION SELECT DISTINCT dst FROM ed),
        nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
        deg AS (SELECT src, count(*)::DOUBLE AS d FROM ed GROUP BY src),
        dangling AS (SELECT node FROM nodes
                     WHERE node NOT IN (SELECT src FROM ed)),
        r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes)"""]
    for i in range(1, int(iters) + 1):
        parts.append(f""",
        c{i} AS (SELECT e.dst AS node, sum(r.rank / g.d) AS inflow
                 FROM ed e JOIN r{i - 1} r ON r.node = e.src
                 JOIN deg g ON g.src = e.src GROUP BY e.dst),
        m{i} AS (SELECT COALESCE(sum(r.rank), 0.0) AS m
                 FROM r{i - 1} r JOIN dangling dgl ON dgl.node = r.node),
        r{i} AS (SELECT n.node,
                        0.15 + 0.85 * (COALESCE(c.inflow, 0.0) + m{i}.m / nn.n)
                          AS rank
                 FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
                 CROSS JOIN m{i} CROSS JOIN nn)""")
    parts.append(f"""
        SELECT node AS domain, round(rank, 6) AS rank FROM r{int(iters)}""")
    return "".join(parts)



# the full SPFHP solve as a reusable CTE chain (ends with the
# per-doc `assigned(doc_id, n, trunc, bin_id)` relation) -- shared
# by the pack_bins_report frame and the pack_bins_exact roundtrip
_SQL_SPFHP_TEMPLATE = r"""
lens AS (
  SELECT doc_id,
         least(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')), __SEQ__)::BIGINT AS n,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) > __SEQ__ AS trunc
  FROM __SRC__
  WHERE len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) > 0
),
hist AS (SELECT n::INT AS n, count(*)::BIGINT AS c FROM lens GROUP BY n),
hlist AS (
  SELECT list(struct_pack(l := n, c := c) ORDER BY n DESC) AS rem FROM hist
),
greedy AS (
  SELECT 0 AS step,
         rem,
         []::STRUCT(pat VARCHAR, tot INT, cnt BIGINT)[] AS open
  FROM hlist
  UNION ALL
  SELECT step + 1,
         CASE WHEN consumed >= cur_c THEN rem[2:]
              ELSE list_prepend(struct_pack(l := cur_l, c := cur_c - consumed),
                                rem[2:]) END AS rem,
         CASE WHEN len(list_filter(open2, x -> x.pat = grown_pat)) > 0
              THEN list_transform(open2, x ->
                     CASE WHEN x.pat = grown_pat
                          THEN struct_pack(pat := x.pat, tot := x.tot,
                                           cnt := x.cnt + consumed)
                          ELSE x END)
              ELSE list_append(open2, struct_pack(pat := grown_pat,
                                                  tot := grown_tot,
                                                  cnt := consumed)) END AS open
  FROM (
    SELECT step, rem, cur_l, cur_c, consumed, grown_pat, grown_tot,
           CASE WHEN best_pat IS NULL THEN open
                ELSE list_filter(
                       list_transform(open, x ->
                         CASE WHEN x.pat = best_pat
                              THEN struct_pack(pat := x.pat, tot := x.tot,
                                               cnt := x.cnt - consumed)
                              ELSE x END),
                       x -> x.cnt > 0) END AS open2
    FROM (
      SELECT step, rem, open, cur_l, cur_c, best_pat, best_tot,
             CASE WHEN best_pat IS NULL THEN cur_c
                  ELSE least(cur_c, best_cnt) END AS consumed,
             CASE WHEN best_pat IS NULL THEN lpad(cur_l::VARCHAR, 3, '0')
                  ELSE best_pat || ',' || lpad(cur_l::VARCHAR, 3, '0')
                  END AS grown_pat,
             CASE WHEN best_pat IS NULL THEN cur_l
                  ELSE best_tot + cur_l END AS grown_tot
      FROM (
        SELECT step, rem, open, cur_l, cur_c,
               best[1].pat AS best_pat, best[1].tot AS best_tot,
               best[1].cnt AS best_cnt
        FROM (
          SELECT step, rem, open, cur_l, cur_c,
                 list_sort(list_transform(
                   list_filter(open, x -> __SEQ__ - x.tot >= cur_l),
                   x -> struct_pack(
                          key := lpad((__SEQ__ - x.tot)::VARCHAR, 3, '0')
                                 || '|' || x.pat,
                          pat := x.pat, tot := x.tot, cnt := x.cnt)))[1:1]
                   AS best
          FROM (
            SELECT step, rem, open, rem[1].l AS cur_l, rem[1].c AS cur_c
            FROM greedy WHERE len(rem) > 0
          )
        )
      )
    )
  )
),
final_greedy AS (
  SELECT open AS pats FROM greedy WHERE len(rem) = 0
),
merged AS (
  SELECT 0 AS step, pats FROM final_greedy
  UNION ALL
  SELECT step + 1,
         CASE WHEN len(list_filter(new1, x -> x.pat = comb_pat)) > 0
              THEN list_transform(new1, x ->
                     CASE WHEN x.pat = comb_pat
                          THEN struct_pack(pat := x.pat, tot := x.tot,
                                           cnt := x.cnt + k)
                          ELSE x END)
              ELSE list_append(new1, struct_pack(pat := comb_pat,
                                                 tot := comb_tot,
                                                 cnt := k)) END AS pats
  FROM (
    SELECT step, k, comb_pat, comb_tot,
           list_filter(
             list_transform(pats, x -> struct_pack(
               pat := x.pat, tot := x.tot,
               cnt := x.cnt
                 - CASE WHEN x.pat = acting_pat THEN k ELSE 0 END
                 - CASE WHEN x.pat = best_pat THEN k ELSE 0 END)),
             x -> x.cnt > 0) AS new1
    FROM (
      SELECT step, pats, acting_pat, best_pat,
             CASE WHEN best_pat = acting_pat THEN acting_cnt // 2
                  ELSE least(acting_cnt, best_cnt) END AS k,
             array_to_string(
               list_sort(list_concat(string_split(acting_pat, ','),
                                     string_split(best_pat, ',')),
                         'DESC'), ',') AS comb_pat,
             acting_tot + best_tot AS comb_tot
      FROM (
        SELECT step, pats, acting_pat, acting_tot, acting_cnt,
               best[1].pat AS best_pat, best[1].tot AS best_tot,
               best[1].cnt AS best_cnt
        FROM (
          SELECT step, pats, acting_pat, acting_tot, acting_cnt,
                 list_filter(valid,
                   q -> q.tot = list_aggregate(
                          list_transform(valid, v -> v.tot), 'max'))[1:1]
                   AS best
          FROM (
            SELECT step, pats,
                   acting[1].pat AS acting_pat, acting[1].tot AS acting_tot,
                   acting[1].cnt AS acting_cnt,
                   list_filter(sortd, q ->
                     q.tot <= __SEQ__ - acting[1].tot
                     AND (q.pat != acting[1].pat OR acting[1].cnt >= 2))
                     AS valid
            FROM (
              SELECT step, pats, sortd,
                     list_filter(sortd, p ->
                       len(list_filter(sortd, q ->
                         q.tot <= __SEQ__ - p.tot
                         AND (q.pat != p.pat OR p.cnt >= 2))) > 0)[1:1]
                       AS acting
              FROM (
                SELECT step, pats,
                       list_sort(list_transform(pats, x ->
                         struct_pack(tot := x.tot, pat := x.pat,
                                     cnt := x.cnt))) AS sortd
                FROM merged
              )
            ) WHERE len(acting) > 0
          )
        )
      )
    )
  )
),
final_pats AS (
  SELECT pats FROM merged ORDER BY step DESC LIMIT 1
),
pat_rows AS (
  SELECT u.pat AS pat, u.cnt AS m,
         row_number() OVER (ORDER BY u.pat) AS pid
  FROM (SELECT unnest(pats) AS u FROM final_pats)
),
pat_base AS (
  SELECT pat, m, pid,
         COALESCE(sum(m) OVER (ORDER BY pid
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0)::BIGINT AS bin_base
  FROM pat_rows
),
segs AS (
  SELECT l, pid, m, bin_base, count(*)::BIGINT AS n_per
  FROM (SELECT pat, m, pid, bin_base,
               unnest(string_split(pat, ','))::BIGINT AS l
        FROM pat_base)
  GROUP BY l, pid, m, bin_base
),
segs2 AS (
  SELECT l AS n, n_per, m, bin_base,
         COALESCE(sum(n_per * m) OVER (PARTITION BY l ORDER BY pid
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0)::BIGINT
           AS rank_start
  FROM segs
),
ranked AS (
  SELECT doc_id, n, trunc,
         row_number() OVER (PARTITION BY n ORDER BY doc_id) - 1 AS r
  FROM lens
),
assigned AS (
  SELECT doc_id, n, trunc,
         (bin_base + (r - rank_start) // n_per)::BIGINT AS bin_id
  FROM ranked JOIN segs2 USING (n)
  WHERE r >= rank_start AND r < rank_start + n_per * m
)
"""


def _sql_spfhp_ctes(
    src: str = "documents", seq_len: int = 128, header: bool = True
) -> str:
    """The SPFHP solve as a reusable CTE chain over any
    ``(doc_id, text)`` relation ``src``: length histogram, greedy over
    list-state in a recursive CTE, bin-merge post-pass, rank-arithmetic
    assignment -- ends with ``assigned(doc_id, n, trunc, bin_id)``.
    ``header=False`` omits the WITH RECURSIVE opener so the chain can
    follow caller CTEs (prefix it with a comma).  lpad(3) bin keys cap
    seq_len below 1000."""
    assert seq_len < 1000, "SPFHP oracle's fixed-width keys cap seq_len"
    chain = _SQL_SPFHP_TEMPLATE.replace("__SEQ__", str(seq_len)).replace(
        "__SRC__", src
    )
    return ("\nWITH RECURSIVE" + chain) if header else chain


_SQL_SPFHP_CTES = _sql_spfhp_ctes()

_SQL_SPFHP_PACK = _SQL_SPFHP_CTES + r"""
SELECT bin_id, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS bin_tokens,
       max(trunc::INT)::INT AS any_truncated
FROM assigned GROUP BY bin_id
"""

# byte-exact materializer roundtrip over the same assignment: bins via
# id-ordered no-separator string_agg, char bases via a running-sum
# window, contract check via bool_and(substr == member).  The packable
# CTE mirrors the engine query's pre-filter (byte-exact packing refuses
# to clip, so only docs that fit are packed; NULL text drops via the
# NULL-propagating comparison) -- a no-op on the committed corpus.
_SQL_PACK_EXACT = (
    "\nWITH RECURSIVE packable AS (\n"
    "  SELECT doc_id, text FROM documents\n"
    r"  WHERE len(list_filter(regexp_split_to_array(text, '\s+'),"
    " x -> x <> '')) <= 128\n"
    "),"
    + _sql_spfhp_ctes(src="packable", header=False)
) + r"""
, dj AS (
  SELECT a.bin_id, a.doc_id, d.text, a.n AS n_tokens
  FROM assigned a JOIN documents d USING (doc_id)
),
bins AS (
  SELECT bin_id, count(*)::BIGINT AS n_docs,
         sum(n_tokens)::BIGINT AS n_tokens,
         string_agg(text, '' ORDER BY doc_id) AS packed_text
  FROM dj GROUP BY bin_id
),
bases AS (
  SELECT bin_id, doc_id, text,
         coalesce(sum(length(text)) OVER (
           PARTITION BY bin_id ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0)::BIGINT AS char_base
  FROM dj
),
chk AS (
  SELECT b.bin_id,
         bool_and(substr(s.packed_text, (b.char_base + 1)::INT,
                         length(b.text)) = b.text) AS all_roundtrip
  FROM bases b JOIN bins s USING (bin_id)
  GROUP BY b.bin_id
)
SELECT s.bin_id, s.n_docs, s.n_tokens,
       length(s.packed_text)::BIGINT AS packed_chars,
       md5(s.packed_text) AS packed_md5,
       c.all_roundtrip
FROM bins s JOIN chk c USING (bin_id)
"""


# the registered unigram_lm_tokens pinned config -- the SINGLE source
# of truth shared by _q_unigram_lm_tokens (engine) and _sql_unigram_lm
# (oracle); tests/test_unigram_lm_oracle.py's replica reads these too
_ULM_VOCAB_SIZE = 32
_ULM_MAX_PIECE_LEN = 3
_ULM_SEED_MULT = 2
_ULM_SEED_SIZE = _ULM_SEED_MULT * _ULM_VOCAB_SIZE
_ULM_ROUND = 6
_ULM_UNK_OFFSET = _ulm_unk_offset


def _sql_ulm_viterbi(tag: str, pt: str) -> str:
    """Per-word Viterbi segmentation under piece table ``pt(piece,
    lp)`` as a list-state recursive CTE (the SPFHP oracle's recursion
    idiom): ``bests`` is a 1-indexed list over prefix lengths
    0..len(word) of struct(np, pc, s, seg) -- field order IS the
    engine's tie-break order (fewer pieces, then lexicographically
    smaller last piece), so ``list_sort(...)[1]`` over the candidates
    within the 1e-12 epsilon of the max score picks exactly
    unigram_lm.viterbi_segment's winner (with round-6 piece log-probs
    both sides sum identical doubles, so score gaps are either
    float-noise ties far below the epsilon or >= ~1e-6 above it).
    Emits ``seg_{tag}(word, cnt, seg, np)``.  MATERIALIZED keeps each
    stage evaluated once (the chain is referenced by later stages)."""
    L = _ULM_MAX_PIECE_LEN
    piece = "substr(v.word, o.st, v.j + 2 - o.st)"
    cands = (
        "list_transform(e.opts, o -> struct_pack("
        "np := v.bests[o.st].np + 1, "
        f"pc := {piece}, "
        "s := v.bests[o.st].s + o.lp, "
        f"seg := CASE WHEN v.bests[o.st].seg = '' THEN {piece} "
        f"ELSE v.bests[o.st].seg || ' ' || {piece} END))"
    )
    best = (
        f"list_sort(list_filter({cands}, x -> x.s >= "
        f"list_max(list_transform({cands}, y -> y.s)) - 1e-12))[1]"
    )
    return f""",
  unk_{tag} AS MATERIALIZED (
    SELECT min(lp) + ({_ULM_UNK_OFFSET}) AS u FROM {pt}),
  wp_{tag} AS MATERIALIZED (
    SELECT w.word, s.i AS st, s.i + s.l - 1 AS en,
           CASE WHEN s.l = 1
                THEN coalesce(p.lp, (SELECT u FROM unk_{tag}))
                ELSE p.lp END AS lp
    FROM wv w,
         LATERAL (
           SELECT i, l, substr(w.word, i, l) AS pc
           FROM unnest(range(1, length(w.word) + 1)) AS t1(i),
                unnest(range(1, {L} + 1)) AS t2(l)
           WHERE i + l - 1 <= length(w.word)
         ) s
         LEFT JOIN {pt} p ON p.piece = s.pc
    WHERE s.l = 1 OR p.piece IS NOT NULL
  ),
  ends_{tag} AS MATERIALIZED (
    SELECT word, en, list(struct_pack(st := st, lp := lp)) AS opts
    FROM wp_{tag} GROUP BY word, en
  ),
  v_{tag} AS (
    SELECT word, cnt, 0 AS j,
           [struct_pack(np := 0, pc := '', s := 0.0::DOUBLE, seg := '')]
             AS bests
    FROM wv
    UNION ALL
    SELECT v.word, v.cnt, v.j + 1,
           list_append(v.bests, {best})
    FROM v_{tag} v JOIN ends_{tag} e ON e.word = v.word AND e.en = v.j + 1
    WHERE v.j < length(v.word)
  ),
  seg_{tag} AS MATERIALIZED (
    SELECT word, cnt,
           bests[length(word) + 1].seg AS seg,
           bests[length(word) + 1].np AS np
    FROM v_{tag} WHERE j = length(word)
  )"""


def _sql_ulm_em(tag: str, pt_in: str, pt_out: str) -> str:
    """One hard-EM step: Viterbi under ``pt_in`` -> piece counts ->
    round-6 log-probs -> single-char coverage floor (min - 1.0) ->
    ``pt_out(piece, lp)`` -- unigram_lm_train.em_step verbatim."""
    return _sql_ulm_viterbi(tag, pt_in) + f""",
  cnt_{tag} AS MATERIALIZED (
    SELECT piece, sum(cnt)::BIGINT AS n
    FROM (SELECT unnest(string_split(seg, ' ')) AS piece, cnt
          FROM seg_{tag})
    GROUP BY piece
  ),
  new_{tag} AS MATERIALIZED (
    SELECT piece,
           round(ln(n::DOUBLE / (SELECT sum(n) FROM cnt_{tag})),
                 {_ULM_ROUND}) AS lp
    FROM cnt_{tag}
  ),
  {pt_out} AS MATERIALIZED (
    SELECT piece, lp FROM new_{tag}
    UNION ALL
    SELECT p.piece, (SELECT min(lp) FROM new_{tag}) - 1.0 AS lp
    FROM {pt_in} p
    WHERE length(p.piece) = 1
      AND p.piece NOT IN (SELECT piece FROM new_{tag})
  )"""


def _sql_unigram_lm() -> str:
    """Oracle for the unigram-LM train+encode composite: replays the
    ENTIRE pinned-config pipeline of _q_unigram_lm_tokens in DuckDB --
    word vocabulary, substring seeding with the (count desc, piece
    asc) top-K cut, EM step 1, the n_multi > budget prune gate with
    the rank-based drop, BOTH continuation branches (prune -> EM ->
    final EM, and the no-prune final EM), branch-selected by the same
    gate the engine evaluates, then the per-word Viterbi encode joined
    back onto position-exploded document tokens.  Fuzzed SQL-vs-replica
    over random corpora (both branches) in
    tests/test_unigram_lm_oracle.py."""
    L = _ULM_MAX_PIECE_LEN
    return f"""
WITH RECURSIVE
  wv AS MATERIALIZED (
    SELECT word, count(*)::BIGINT AS cnt
    FROM (
      SELECT unnest(
        list_filter(regexp_split_to_array(text, '\\s+'),
                    x -> x <> '')) AS word
      FROM documents)
    GROUP BY word
  ),
  subs AS MATERIALIZED (
    SELECT s.pc AS piece, sum(w.cnt)::BIGINT AS c
    FROM wv w,
         LATERAL (
           SELECT substr(w.word, i, l) AS pc
           FROM unnest(range(1, length(w.word) + 1)) AS t1(i),
                unnest(range(1, {L} + 1)) AS t2(l)
           WHERE i + l - 1 <= length(w.word)
         ) s
    GROUP BY s.pc
  ),
  seed AS MATERIALIZED (
    SELECT piece, c FROM subs WHERE length(piece) = 1
    UNION ALL
    SELECT piece, c FROM (
      SELECT piece, c FROM subs WHERE length(piece) >= 2
      ORDER BY c DESC, piece ASC LIMIT {_ULM_SEED_SIZE})
  ),
  p0 AS MATERIALIZED (
    SELECT piece,
           round(ln(c::DOUBLE / (SELECT sum(c) FROM seed)),
                 {_ULM_ROUND}) AS lp
    FROM seed
  ){_sql_ulm_em("e1", "p0", "p1")},
  gate AS MATERIALIZED (
    SELECT count(*) FILTER (WHERE length(piece) > 1) AS n_multi,
           greatest({_ULM_VOCAB_SIZE}
                    - count(*) FILTER (WHERE length(piece) = 1),
                    0) AS budget
    FROM p1
  ),
  p1p AS MATERIALIZED (
    SELECT piece, lp FROM p1 WHERE length(piece) = 1
    UNION ALL
    SELECT piece, lp FROM (
      SELECT piece, lp,
             row_number() OVER (ORDER BY lp ASC, piece ASC) AS rk
      FROM p1 WHERE length(piece) > 1)
    WHERE rk > (SELECT n_multi - budget FROM gate)
  ){_sql_ulm_em("e2", "p1p", "p2")}{_sql_ulm_em("e3", "p2", "p3")}\
{_sql_ulm_em("e2b", "p1", "p2b")},
  pf AS MATERIALIZED (
    SELECT piece, lp FROM p3
    WHERE (SELECT n_multi > budget FROM gate)
    UNION ALL
    SELECT piece, lp FROM p2b
    WHERE NOT (SELECT n_multi > budget FROM gate)
  ){_sql_ulm_viterbi("enc", "pf")},
  dtoks AS (
    SELECT doc_id, i AS pos, tk[i] AS word
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> '') AS tk
          FROM documents) d,
         unnest(range(1, len(tk) + 1)) AS t(i)
  )
SELECT d.doc_id,
       count(*)::BIGINT AS n_words,
       sum(s.np)::BIGINT AS n_pieces,
       string_agg(s.seg, ' ' ORDER BY d.pos) AS encoded
FROM dtoks d JOIN seg_enc s ON d.word = s.word
GROUP BY d.doc_id
"""


_SQL_UNIGRAM_LM = _sql_unigram_lm()


def _sql_sft_pack_spans() -> str:
    """Oracle for the packed-SFT-spans deliverable: the sft_turn_spans
    turn/offset CTEs (renamed tlens/toffs -- the SPFHP chain owns
    `lens`), each conversation re-rendered with an ordered string_agg
    under the fixed '<|role|>content\\n' convention, the FULL SPFHP
    solve re-run over the rendered strings (seq_len=192, single-bucket
    regime), bins re-derived with an id-ordered no-separator
    string_agg, char bases with a running-sum window, and every span
    re-based and substring-verified."""
    spfhp = _sql_spfhp_ctes(src="rendered_docs", seq_len=192, header=False)
    return f"""
WITH RECURSIVE
cbase AS (
  -- the engine query's packable-subset bound, replayed at the source:
  -- docs over 150 tokens cannot render within seq_len=192 and the
  -- byte-exact packer refuses to clip (NULL text drops via the
  -- NULL-propagating comparison, same as the engine's filter)
  SELECT doc_id, {_sql_tokens()} AS toks FROM documents
  WHERE len({_sql_tokens()}) <= 150
),
parts AS (
  -- coalesce: DuckDB's array_to_string on an EMPTY list returns NULL
  -- (probe-verified), where the engine's concat_ws renders '' -- a doc
  -- with < 9 tokens would otherwise lose its whole assistant turn from
  -- the oracle render (string_agg skips the NULL-content concat);
  -- latent on the committed corpus (every doc has > 8 tokens), caught
  -- by the degenerate-corpus sweep's blank/single-token classes
  SELECT doc_id,
         coalesce(array_to_string(toks[1:8], ' '), '') AS u1,
         coalesce(array_to_string(toks[9:], ' '), '') AS a1,
         coalesce(array_to_string(toks[1:4], ' '), '') AS a2
  FROM cbase
),
turns AS (
  SELECT doc_id, 0 AS turn_idx, 'system' AS role,
         'Be concise.' AS content FROM parts
  UNION ALL SELECT doc_id, 1, 'user', u1 FROM parts
  UNION ALL SELECT doc_id, 2, 'assistant', a1 FROM parts
  UNION ALL SELECT doc_id, 3, 'user', 'And then?' FROM parts
            WHERE doc_id % 3 = 0
  UNION ALL SELECT doc_id, 4, 'assistant', a2 FROM parts
            WHERE doc_id % 3 = 0
),
tlens AS (
  SELECT *, (length(role) + 4)::BIGINT AS hlen,
         length(content)::BIGINT AS clen
  FROM turns
),
toffs AS (
  SELECT *, COALESCE(SUM(hlen + clen + 1) OVER (
             PARTITION BY doc_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0)::BIGINT AS cum
  FROM tlens
),
rendered_docs AS (
  SELECT doc_id,
         string_agg('<|' || role || '|>' || content || chr(10),
                    '' ORDER BY turn_idx) AS text
  FROM turns GROUP BY doc_id
),{spfhp},
dj AS (
  SELECT a.bin_id, a.doc_id, r.text
  FROM assigned a JOIN rendered_docs r USING (doc_id)
),
bins AS (
  SELECT bin_id, string_agg(text, '' ORDER BY doc_id) AS packed_text
  FROM dj GROUP BY bin_id
),
bases AS (
  SELECT bin_id, doc_id,
         coalesce(sum(length(text)) OVER (
           PARTITION BY bin_id ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0)::BIGINT AS char_base
  FROM dj
)
SELECT b.bin_id,
       o.doc_id::BIGINT AS conv_id,
       o.turn_idx::INT AS turn_idx,
       o.role,
       (o.role = 'assistant') AS loss_mask,
       o.clen AS n_chars,
       (b.char_base + o.cum + o.hlen)::BIGINT AS abs_start,
       (b.char_base + o.cum + o.hlen + o.clen)::BIGINT AS abs_end,
       substr(s.packed_text, (b.char_base + o.cum + o.hlen + 1)::INT,
              o.clen::INT) = o.content AS span_ok
FROM toffs o
JOIN bases b ON o.doc_id = b.doc_id
JOIN bins s ON b.bin_id = s.bin_id
"""


_SQL_SFT_PACK_SPANS = _sql_sft_pack_spans()


def _sql_profile_funnel() -> str:
    """Oracle for the four-stage curation-funnel profile: one shared
    per-doc signal CTE (token count, char count, md5 fingerprint,
    4-digit quality as exact BIGINT q4, language), four nested stage
    relations applying the funnel predicates, one aggregate row per
    stage.  avg spelled sum::DOUBLE/count (Spark's Average for longs),
    percentiles via quantile_disc (== percentile_approx at this n),
    distincts exact (the engine query passes exact_distinct=True)."""
    hits = ", ".join(
        f"{_sql_hits('toks', STOPWORDS[lang])} AS h_{lang}"
        for lang in STOPWORDS
    )
    agg = """
       count(*)::BIGINT AS n_docs,
       sum(nt)::BIGINT AS total_tokens,
       sum(nchars)::BIGINT AS total_chars,
       round(sum(nt)::DOUBLE / count(*), 2) AS avg_tokens,
       min(nt)::BIGINT AS min_tokens,
       max(nt)::BIGINT AS max_tokens,
       quantile_disc(nt, 0.5)::BIGINT AS p50_tokens,
       quantile_disc(nt, 0.9)::BIGINT AS p90_tokens,
       quantile_disc(nt, 0.99)::BIGINT AS p99_tokens,
       count(DISTINCT fp)::BIGINT AS n_distinct_docs,
       greatest(0.0, round(1.0 - count(DISTINCT fp) / count(*)::DOUBLE, 4))
           AS dup_rate,
       (count(*) FILTER (WHERE nt = 0))::BIGINT AS n_empty_docs"""
    stage_rels = {"raw": "s0", "min_len": "s1", "english": "s2",
                  "quality": "s3"}
    unions = "\n        UNION ALL\n        ".join(
        f"SELECT {i}::INT AS stage_idx, '{name}' AS stage,{agg}\n"
        f"        FROM {rel}"
        for i, (name, rel) in enumerate(stage_rels.items())
    )
    return f"""
        WITH t AS (
          SELECT doc_id, text, {_sql_tokens()} AS toks FROM documents
        ),
        h AS (SELECT doc_id, {hits} FROM t),
        m AS (
          SELECT t.doc_id,
                 len(t.toks)::BIGINT AS nt,
                 length(t.text)::BIGINT AS nchars,
                 md5({_sql_norm("t.text")}) AS fp,
                 CAST(round(
                   (0.25 * least(1.0, len(t.toks)::DOUBLE / 64.0)
                    + 0.25 * least(1.0, (CASE WHEN len(t.toks) > 0
                        THEN list_sum(list_transform(t.toks, x -> length(x)))::DOUBLE / len(t.toks)
                        ELSE 0.0 END) / 8.0)
                    + 0.25 * (1.0 - least(1.0, (CASE WHEN length(t.text) > 0
                        THEN (length(t.text) - length(regexp_replace(t.text, '[.,!?;:]', '', 'g')))::DOUBLE / length(t.text)
                        ELSE 0.0 END) * 10.0))
                    + 0.25 * least(1.0, (CASE WHEN len(t.toks) > 0
                        THEN len(list_filter(t.toks, x -> x IN ({_STOP_IN})))::DOUBLE / len(t.toks)
                        ELSE 0.0 END) * 4.0)) * 10000, 0) AS BIGINT) AS q4,
                 {_sql_lang_case()} AS lang
          FROM t JOIN h ON t.doc_id = h.doc_id
        ),
        s0 AS (SELECT * FROM m),
        s1 AS (SELECT * FROM s0 WHERE nt >= 40),
        s2 AS (SELECT * FROM s1 WHERE lang = 'en'),
        s3 AS (SELECT * FROM s2 WHERE q4 >= 6000)
        {unions}
    """


_SQL_PROFILE_FUNNEL = _sql_profile_funnel()


ORACLE_SQL: dict[str, str] = {
    # ---------------- reference parity ----------------
    "user_address_counts": """
        SELECT c.c_custkey AS user_key,
               c.c_name    AS user_name,
               count(o.o_orderkey) AS n_addresses
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_name
    """,
    "count_by_state": """
        SELECT o.o_orderpriority AS state, count(*) AS cnt
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_orderpriority
    """,
    "count_by_country": """
        SELECT o.o_orderstatus AS country, count(*) AS cnt
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_orderstatus
    """,
    "windowed_count_by_type": """
        SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS cnt,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2
    """,
    "stateful_join_trace": """
        SELECT c_custkey AS user_key, 0::BIGINT AS seq, 0::BIGINT AS n_addresses
        FROM customer
        UNION ALL
        SELECT o_custkey AS user_key,
               o_orderkey AS seq,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS n_addresses
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer)
    """,
    # the emission stream as (emitting order e, snapshot member m) pairs:
    # e's snapshot holds every order of the same customer with key <= e's
    # (users arrive first at seq 0), so each member is re-counted once per
    # later emission -- the Flink job's window-input inflation.  Window =
    # epoch-aligned 30-day buckets of the emitting order's date (Spark
    # F.window alignment: floor(epoch/2592000)*2592000).
    "windowed_trace_inflation": """
        SELECT strftime(to_timestamp((epoch(e.o_orderdate)::BIGINT // 2592000) * 2592000),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               m.o_orderpriority AS state,
               count(*) AS cnt
        FROM orders e
        JOIN orders m ON m.o_custkey = e.o_custkey AND m.o_orderkey <= e.o_orderkey
        WHERE e.o_custkey IN (SELECT c_custkey FROM customer)
        GROUP BY 1, 2
    """,
    # ---------------- relational breadth ----------------
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT l.l_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o.o_orderpriority,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
          AND l.l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o.o_orderdate ASC, l.l_orderkey ASC
        LIMIT 10
    """,
    "q5_local_supplier_volume": """
        SELECT n.n_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n.n_name
    """,
    "q6_forecast_revenue": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "q2_min_cost_supplier": """
        WITH offers AS (
          SELECT l_partkey, l_suppkey,
                 min(l_extendedprice / l_quantity) AS unit_cost
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_type = 'LARGE' AND p_size <= 15
          GROUP BY l_partkey, l_suppkey
        ),
        best AS (
          SELECT l_partkey AS bk, min(unit_cost) AS best_cost
          FROM offers GROUP BY l_partkey
        )
        SELECT o.l_partkey AS p_partkey, s_name, n_name, unit_cost,
               round(s_acctbal, 2) AS s_acctbal
        FROM offers o
        JOIN best ON o.l_partkey = bk AND o.unit_cost = best_cost
        JOIN supplier ON o.l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
    """,
    "q11_important_part_values": """
        WITH val AS (
          SELECT l_partkey,
                 round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_value
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_5'
          GROUP BY l_partkey
        )
        SELECT l_partkey, part_value FROM val
        WHERE part_value > (SELECT 0.001 * sum(part_value) FROM val)
    """,
    "q16_parts_supplier_counts": """
        SELECT p_brand, p_type, p_size, count(*) AS supplier_cnt
        FROM (
          SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand <> 'Brand#5'
            AND p_size IN (1, 4, 9, 14, 19, 23)
            AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                  WHERE s_acctbal < 0)
        ) GROUP BY p_brand, p_type, p_size
    """,
    "q20_promo_heavy_suppliers": """
        SELECT s_name, round(s_acctbal, 2) AS s_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_6'
          AND s_suppkey IN (
            SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
            GROUP BY l_suppkey
            HAVING sum(CASE WHEN p_type = 'PROMO' THEN l_quantity
                            ELSE 0.0 END) > 0.22 * sum(l_quantity)
          )
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        GROUP BY o_orderpriority
    """,
    "q7_volume_shipping": """
        SELECT supp_nation, cust_nation, l_year,
               round(sum(volume), 2) AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 year(l_shipdate)::INT AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1998-01-01'
            AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        ) GROUP BY supp_nation, cust_nation, l_year
    """,
    "q8_market_share": """
        SELECT year(o_orderdate)::INT AS o_year,
               round(sum(CASE WHEN ns.n_name = 'NATION_3'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        JOIN region   ON nc.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        WHERE p_type = 'STANDARD' AND r_name = 'EUROPE'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY year(o_orderdate)
    """,
    "q9_profit_by_nation_year": """
        SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
               round(sum(CAST(l_extendedprice * (1 - l_discount)
                              - 0.5 * p_retailprice * l_quantity
                              AS DECIMAL(24,4))), 2)::DOUBLE AS sum_profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_type = 'PROMO'
        GROUP BY n_name, year(o_orderdate)
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, revenue,
               round(c_acctbal, 2) AS c_acctbal, n_name
        FROM (
          SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                 round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer c ON o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          WHERE l_returnflag = 'R'
            AND o_orderdate >= TIMESTAMP '1996-10-01'
            AND o_orderdate <  TIMESTAMP '1997-01-01'
          GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
          ORDER BY revenue DESC, c.c_custkey ASC
          LIMIT 20
        )
    """,
    "q12_late_shipments": """
        SELECT l_linestatus,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        GROUP BY l_linestatus
    """,
    "q13_customer_distribution": """
        SELECT c_count, count(*) AS custdist
        FROM (
          SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c
          LEFT OUTER JOIN (SELECT * FROM orders
                           WHERE o_orderpriority <> '5-LOW') o
            ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey
        ) GROUP BY c_count
    """,
    "q14_promo_revenue": """
        SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 6)
               AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
    "q15_top_supplier": """
        WITH rev AS (
          SELECT l_suppkey AS supplier_no,
                 round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON supplier_no = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    "q17_small_quantity_revenue": """
        WITH branded AS (
          SELECT l_partkey, l_quantity, l_extendedprice
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand = 'Brand#1' AND p_size <= 10
        ),
        a AS (
          SELECT l_partkey AS ak, 0.5 * avg(l_quantity) AS half_avg
          FROM branded GROUP BY l_partkey
        )
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM branded JOIN a ON l_partkey = ak
        WHERE l_quantity < half_avg
    """,
    "q18_large_volume_customers": """
        WITH big AS (
          SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING round(sum(l_quantity), 2) > 250
        )
        SELECT c_name, c_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               round(o_totalprice, 2) AS o_totalprice, sum_qty
        FROM big
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "q19_discounted_revenue": """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "q21_sole_blame_supplier": """
        SELECT s_name, count(*) AS numwait
        FROM lineitem l1
        JOIN supplier ON l1.l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE l1.l_returnflag = 'R' AND n_name = 'NATION_4'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
    """,
    "q22_global_sales_opportunity": """
        SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode,
               count(*) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c.c_custkey
                            AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY CAST(c_nationkey % 5 AS INT)
    """,
    "events_json_extract": """
        SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
               count(*) AS cnt,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY 1
    """,
    "asof_purchase_view": """
        SELECT l.event_id,
               l.user_id,
               epoch_us(l.ts) AS p_ts_us,
               round(l.value, 2) AS p_value,
               epoch_us(r.ts) AS v_ts_us,
               round(r.value, 2) AS v_value
        FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    "interval_view_purchase": """
        SELECT v.event_id AS view_id,
               p.event_id AS purchase_id,
               v.user_id,
               CAST(floor(date_diff('microsecond', v.ts, p.ts) / 1000000) AS BIGINT) AS lag_s
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON v.user_id = p.user_id
         AND p.ts >= v.ts
         AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
    "cube_order_stats": """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "running_customer_revenue": """
        SELECT o_orderkey, o_custkey,
               round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        FROM orders
    """,
    "set_ops_customers": """
        WITH buyers_96 AS (
          SELECT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        ),
        urgent AS (
          SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        ),
        labeled AS (
          SELECT o_custkey, 'both' AS grp
          FROM (SELECT o_custkey FROM buyers_96 INTERSECT SELECT o_custkey FROM urgent)
          UNION ALL
          SELECT o_custkey, 'no_urgent' AS grp
          FROM (SELECT DISTINCT o_custkey FROM buyers_96 EXCEPT SELECT o_custkey FROM urgent)
        )
        SELECT grp, count(*) AS n_customers FROM labeled GROUP BY grp
    """,
    "orders_above_customer_avg": """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               round(avg(o_totalprice), 2) AS avg_price
        FROM orders o
        WHERE o_totalprice > 1.5 * (
            SELECT avg(o2.o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey
        )
        GROUP BY o_orderpriority
    """,
    "scalar_function_showcase": """
        SELECT n_nationkey,
               upper(substr(n_name, 1, 3)) || '-' || lower(n_name) AS tag,
               length(trim('  ' || n_name || '  '))::BIGINT AS trimmed_len,
               translate(n_name, 'AEIOU', 'aeiou') AS demoted,
               strftime(DATE '1992-01-01' + INTERVAL (n_nationkey * 7) DAY, '%Y-%m-%d') AS week_offset_date,
               round(sqrt(n_nationkey + 1) * ln(n_nationkey + 2.0), 6) AS mathy,
               len(list_sort(string_split(n_name, '')))::BIGINT AS n_chars,
               list_sort(string_split(n_name, ''))[1] AS first_char_sorted,
               map(['k'], [n_regionkey::VARCHAR])['k'][1] AS region_via_map
        FROM nation
    """,
    "pivot_priority_status": """
        SELECT o_orderpriority,
               sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_f,
               sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_o,
               sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS n_p
        FROM orders GROUP BY o_orderpriority
    """,
    # session_window semantics: a session's end is last event + gap,
    # EXCLUSIVE -- an event arriving exactly gap after its predecessor
    # starts a new Spark session, hence >= in the island break below
    "session_window_stats": """
        WITH o AS (
          SELECT user_id, ts, event_id, value,
                 lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC) AS prev
          FROM events
        ),
        marked AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN prev IS NULL
                       OR date_diff('microsecond', prev, ts) >= 1800000000
                      THEN 1 ELSE 0 END AS brk
          FROM o
        ),
        islands AS (
          SELECT user_id, ts, value,
                 sum(brk) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM marked
        )
        SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
                 AS session_end,
               user_id, count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM islands GROUP BY user_id, island
    """,
    "window_function_showcase": """
        SELECT o_custkey, o_orderkey,
               round(o_totalprice, 2) AS price,
               round(lag(o_totalprice) OVER w, 2) AS prev_price,
               round(lead(o_totalprice) OVER w, 2) AS next_price,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM orders
        WHERE o_custkey % 100 = 0
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
    "grouping_sets_revenue": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    # SCD2 rebuild mirror of operators/scd2.py: lineage = open seed +
    # changes per changed key, no-op collapse via lag, close via lead
    "scd2_customer_segments": """
        WITH cur AS (
          SELECT c_custkey AS k, c_mktsegment AS seg,
                 TIMESTAMP '1995-01-01' AS valid_from,
                 NULL::TIMESTAMP AS valid_to, true AS is_current
          FROM customer
        ),
        ch AS (
          SELECT c_custkey AS k, 'SEG_' || (c_custkey % 4) AS seg,
                 TIMESTAMP '1999-01-01'
                   + (c_custkey % 400) * INTERVAL 1 DAY AS change_ts
          FROM customer WHERE c_custkey % 7 = 0
          UNION ALL
          SELECT c_custkey, 'SEG_' || ((c_custkey / 2)::BIGINT % 4),
                 TIMESTAMP '1999-01-01'
                   + (c_custkey % 400 + 100) * INTERVAL 1 DAY
          FROM customer WHERE c_custkey % 14 = 0
        ),
        chkeys AS (SELECT DISTINCT k FROM ch),
        lineage AS (
          SELECT cur.k, cur.seg, cur.valid_from AS ts, 0 AS seq
          FROM cur JOIN chkeys ON cur.k = chkeys.k
          UNION ALL
          SELECT k, seg, change_ts, 1 FROM ch
        ),
        filtered AS (
          SELECT k, seg, ts, seq FROM (
            SELECT k, seg, ts, seq,
                   lag(seg) OVER (PARTITION BY k ORDER BY ts, seq) AS prev
            FROM lineage
          ) WHERE prev IS NULL OR prev <> seg
        ),
        rebuilt AS (
          SELECT k, seg, ts AS valid_from,
                 lead(ts) OVER (PARTITION BY k ORDER BY ts, seq) AS valid_to
          FROM filtered
        ),
        unioned AS (
          SELECT cur.k, cur.seg, cur.valid_from, cur.valid_to FROM cur
          WHERE cur.k NOT IN (SELECT k FROM chkeys)
          UNION ALL
          SELECT k, seg, valid_from, valid_to FROM rebuilt
        )
        SELECT k, seg,
               strftime(valid_from, '%Y-%m-%d') AS valid_from,
               strftime(valid_to, '%Y-%m-%d') AS valid_to,
               (valid_to IS NULL) AS is_current
        FROM unioned
    """,
    # ---------------- LLM-pipeline extensions ----------------
    # full train+encode replay: seed -> EM -> guarded prune -> EM ->
    # EM branches computed with the engine's own gate; per-word Viterbi
    # as a list-state recursive CTE (see _sql_unigram_lm)
    "unigram_lm_tokens": _SQL_UNIGRAM_LM,
    # Gopher word-level rules; flags evaluate on raw ratios (identical
    # integer-division doubles), rounded copies are display-only
    "gopher_quality": f"""
        WITH t AS (
          SELECT doc_id, {_sql_tokens()} AS toks FROM documents
        ),
        m AS (
          SELECT doc_id,
                 len(toks) AS n,
                 list_sum(list_transform(toks, w -> length(w)::DOUBLE))
                   / len(toks) AS mean_wl,
                 len(list_filter(toks, w -> regexp_full_match(w, '[A-Za-z]+')))
                   / len(toks)::DOUBLE AS alpha_frac,
                 CASE WHEN len(toks) <= 360 THEN
                   list_max(list_transform(list_distinct(toks),
                            t2 -> len(list_filter(toks, w -> w = t2))))
                     / len(toks)::DOUBLE
                 ELSE NULL END AS top_frac,
                 (len(list_filter(['the', 'a', 'data'],
                       w -> list_contains(toks, w))) >= 1) AS has_required
          FROM t
        )
        SELECT doc_id,
               n::BIGINT AS n_tokens,
               round(mean_wl, 4) AS mean_word_len,
               round(alpha_frac, 4) AS alpha_frac,
               round(top_frac, 4) AS top_token_frac,
               (n >= 30 AND n <= 90) AS ok_token_count,
               (mean_wl >= 4.0 AND mean_wl <= 5.0) AS ok_word_len,
               (alpha_frac >= 0.9) AS ok_alpha,
               coalesce(top_frac <= 0.1, false) AS ok_top_token,
               has_required AS ok_required_word,
               ((n >= 30 AND n <= 90) AND (mean_wl >= 4.0 AND mean_wl <= 5.0)
                AND alpha_frac >= 0.9 AND coalesce(top_frac <= 0.1, false)
                AND has_required) AS keep
        FROM m
    """,
    # concat-then-chunk offsets: exclusive prefix sum over (n_tokens+1)
    # in doc_id order; chunk c covers [c*512, (c+1)*512)
    # trained-centroid assignment + mean-size flattening; md5 hash
    # threshold identical to the other samplers
    "cluster_balanced_sample": f"""
        WITH {_sql_ivf_trained_ctes(_IVF_TRAIN_ITERS)},
        assign AS (
          SELECT vec_id, cid FROM (
            SELECT c.vec_id, k.cid,
                   row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY round({_sql_cosine("c.embedding", "k.cvec")}, 6) DESC,
                              k.cid ASC) AS rn
            FROM embeddings c CROSS JOIN cent{_IVF_TRAIN_ITERS} k
          ) WHERE rn = 1
        ),
        sizes AS (SELECT cid, count(*) AS csize FROM assign GROUP BY cid),
        stats AS (SELECT sum(csize)::DOUBLE / count(*) AS target FROM sizes),
        thr AS (
          SELECT cid,
                 CAST(round(least(1.0, target / csize) * 1000000, 0) AS BIGINT)
                   AS t
          FROM sizes CROSS JOIN stats
        )
        SELECT a.vec_id, a.cid AS cluster_id
        FROM assign a JOIN thr USING (cid)
        WHERE ('0x' || substr(md5(a.vec_id::VARCHAR || '|42'), 1, 15))::BIGINT
                % 1000000 < t
    """,
    "chunk_manifest": f"""
        WITH t AS (
          SELECT doc_id, len({_sql_tokens()})::BIGINT AS n FROM documents
        ),
        c AS (
          SELECT doc_id, n,
                 sum(n + 1) OVER (ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS incl
          FROM t
        ),
        o AS (
          SELECT doc_id, n,
                 (incl - n - 1)::BIGINT AS s_off, (incl - 1)::BIGINT AS e_off,
                 ((incl - n - 1) // 512)::BIGINT AS fc,
                 (greatest(incl - 2, incl - n - 1) // 512)::BIGINT AS lc
          FROM c WHERE n > 0
        ),
        x AS (
          SELECT doc_id, s_off, e_off,
                 unnest(generate_series(fc, lc)) AS ch
          FROM o
        )
        SELECT ch AS chunk_id, doc_id,
               (greatest(s_off, ch * 512) - s_off) AS doc_token_start,
               (least(e_off, (ch + 1) * 512) - greatest(s_off, ch * 512))
                 AS n_tokens_in_chunk
        FROM x
        WHERE least(e_off, (ch + 1) * 512) - greatest(s_off, ch * 512) > 0
    """,
    # byte-exact bin materializer contract: shares the SPFHP assignment
    # CTE chain with pack_bins_report, then re-derives packed bins and
    # verifies every member's substring roundtrip in SQL
    "pack_bins_exact_roundtrip": _SQL_PACK_EXACT,
    # r13 fold: one oracle for the doc_signals query -- identical
    # expression bodies to the retired lang_id_pred / quality_scores /
    # bpe_token_counts oracles, joined on doc_id.
    "doc_signals": f"""
        WITH t AS (
          SELECT doc_id, text, {_sql_tokens()} AS toks FROM documents
        ), h AS (
          SELECT doc_id,
                 {", ".join(f"{_sql_hits('toks', STOPWORDS[lang])} AS h_{lang}" for lang in STOPWORDS)}
          FROM t
        ), m AS (
          SELECT doc_id,
                 len(toks)::DOUBLE AS n_tok,
                 length(text)::DOUBLE AS n_chars,
                 CASE WHEN len(toks) > 0
                      THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
                      ELSE 0.0 END AS mean_tok_len,
                 CASE WHEN length(text) > 0
                      THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)
                      ELSE 0.0 END AS punct_ratio,
                 CASE WHEN len(toks) > 0
                      THEN len(list_filter(toks, t -> t IN ({_STOP_IN})))::DOUBLE / len(toks)
                      ELSE 0.0 END AS stop_ratio
          FROM t
        )
        SELECT m.doc_id,
               {_sql_lang_case()} AS lang_pred,
               round(0.25 * least(1.0, n_tok / 64.0)
                   + 0.25 * least(1.0, mean_tok_len / 8.0)
                   + 0.25 * (1.0 - least(1.0, punct_ratio * 10.0))
                   + 0.25 * least(1.0, stop_ratio * 4.0), 4) AS quality,
               len({_sql_tokens("d.text")})::BIGINT AS n_ws_tokens,
               len(regexp_extract_all(d.text, '{BPE_SPLIT_PATTERN}'))::BIGINT AS n_bpe_tokens
        FROM m JOIN h ON m.doc_id = h.doc_id
               JOIN documents d ON m.doc_id = d.doc_id
    """,
    "winnow_fingerprints": f"""
        WITH norm AS (SELECT doc_id, {_sql_norm()} AS t FROM documents),
        g AS (
          SELECT doc_id, i AS pos, substr(t, i, 7) AS gram
          FROM norm, unnest(range(1, greatest(length(t) - 6, 1) + 1)) AS u(i)
          WHERE length(substr(t, i, 7)) = 7
        ),
        h AS (SELECT doc_id, pos, {_sql_md5_long("gram")} AS hv FROM g),
        wm AS (
          SELECT doc_id,
                 min(hv)  OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
                 count(*) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS n_in
          FROM h
        ),
        sel AS (SELECT DISTINCT doc_id, sel FROM wm WHERE n_in = 4)
        SELECT doc_id, count(*) AS n_fp,
               md5(array_to_string(list_sort(list(sel)), ',')) AS fingerprint
        FROM sel GROUP BY doc_id
    """,
    # per-document application of the 8-merge tokenizer: the merge
    # replay (w8) gives word -> encoding; tokens explode with position
    # and an ordered string_agg reassembles each doc.  OOV fallback is
    # char symbols (cannot trigger here: vocab trained on this corpus).
    "bpe_apply_docs": _sql_bpe_cte(8) + f""",
        vocab AS (SELECT word, array_to_string(sym, ' ') AS enc FROM w8),
        dtoks AS (
          SELECT doc_id, i AS pos, tk[i] AS word
          FROM (SELECT doc_id, {_sql_tokens()} AS tk FROM documents) d,
               unnest(range(1, len(tk) + 1)) AS t(i)
        ),
        enc AS (
          SELECT d.doc_id, d.pos,
                 coalesce(v.enc,
                          array_to_string(string_split(d.word, ''), ' ')) AS enc
          FROM dtoks d LEFT JOIN vocab v USING (word)
        ),
        perdoc AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                 string_agg(enc, ' ' ORDER BY pos) AS encoded
          FROM enc GROUP BY doc_id
        )
        SELECT s.doc_id,
               coalesce(p.n_words, 0)::BIGINT AS n_words,
               coalesce(p.encoded, '') AS encoded,
               (CASE WHEN coalesce(p.encoded, '') = '' THEN 0
                     ELSE len(string_split(p.encoded, ' ')) END)::BIGINT
                 AS n_bpe_tokens
        FROM documents s LEFT JOIN perdoc p USING (doc_id)
    """,
    "dedup_exact": f"""
        SELECT md5({_sql_norm()}) AS fingerprint,
               min(doc_id) AS doc_id,
               count(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    # DuckDB string_split is LITERAL (matching the engine's quoted-regex
    # split); parallel unnests zip para with its 1-based subscript.
    # Whitespace-only paragraphs bypass dedup (keep=1, content=0) exactly
    # as in functions/dedup.py:paragraph_dedup.
    "paragraph_dedup": f"""
        WITH src AS (
          SELECT doc_id,
                 concat_ws(chr(10) || chr(10), 'COMMON HEADER', text,
                           'footer-' || CAST(doc_id % 7 AS VARCHAR)) AS t
          FROM documents
        ),
        arrs AS (
          SELECT doc_id, string_split(t, chr(10) || chr(10)) AS arr FROM src
        ),
        subs AS (
          SELECT doc_id, arr, generate_subscripts(arr, 1) AS pos FROM arrs
        ),
        paras AS (
          SELECT doc_id, pos, arr[pos] AS para FROM subs
        ),
        norm AS (
          SELECT doc_id, pos, para, {_sql_norm("para")} AS n FROM paras
        ),
        kept AS (
          SELECT doc_id, pos, para,
                 CASE WHEN n = '' THEN 1
                      WHEN row_number() OVER (PARTITION BY n ORDER BY doc_id, pos) = 1 THEN 1
                      ELSE 0 END AS keep,
                 CASE WHEN n = '' THEN 0 ELSE 1 END AS content
          FROM norm
        ),
        rebuilt AS (
          SELECT doc_id,
                 sum(content) AS n_content,
                 string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
          FROM kept WHERE keep = 1
          GROUP BY doc_id
        ),
        counts AS (SELECT doc_id, count(*) AS n_paras FROM norm GROUP BY doc_id)
        SELECT c.doc_id,
               coalesce(r.text, '') AS text,
               c.n_paras,
               CAST(coalesce(r.n_content, 0) AS BIGINT) AS n_kept
        FROM counts c LEFT JOIN rebuilt r USING (doc_id)
        WHERE coalesce(r.n_content, 0) > 0
    """,
    # candidates come from low-df shingles only (stop-shingle pruning);
    # n_common is then recomputed over the candidates' FULL shingle sets,
    # so every emitted score is the exact Jaccard (pruning = recall only)
    "ngram_jaccard_pairs": f"""
        WITH {_sql_shingles(5)},
        sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
        freq AS (SELECT shingle, count(*) AS df_ FROM sh GROUP BY shingle),
        joinable AS (
          SELECT s.doc_id, s.shingle
          FROM sh s JOIN freq f USING (shingle)
          WHERE f.df_ <= {_NGRAM_MAX_DF}
        ),
        candidates AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM joinable a JOIN joinable b USING (shingle)
          WHERE a.doc_id < b.doc_id
        ),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_common
          FROM candidates c
          JOIN sh x ON x.doc_id = c.doc_a
          JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON inter.doc_a = sa.doc_id
        JOIN sizes sb ON inter.doc_b = sb.doc_id
        WHERE round(n_common / (sa.set_size + sb.set_size - n_common), 6) >= 0.25
    """,
    # duplicated k-gram positions -> merged maximal spans (interval
    # union via gaps-and-islands); the oracle groups on gram STRINGS
    # where the engine groups on 60-bit md5 prefixes -- identical
    # partitions absent a hash collision
    "substring_dup_spans": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> '') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        grams AS (
          SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS gram
          FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7))) AS g(i)
        ),
        dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
        dpos AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
        flag AS (
          SELECT doc_id, pos,
                 CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
                      THEN 1 ELSE 0 END AS new_island
          FROM dpos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        isl AS (
          SELECT doc_id, pos,
                 sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM flag
        )
        SELECT doc_id, min(pos)::INT AS span_start,
               (max(pos) + 7)::INT AS span_end,
               (max(pos) + 7 - min(pos) + 1)::INT AS span_tokens
        FROM isl GROUP BY doc_id, island
    """,
    # mark+cut composite: same gram CTEs as substring_dup_spans, then
    # the cut from the UNION of duplicated-gram covers (== cutting the
    # merged spans, since merging preserves the covered-position set);
    # docs with nothing to cut keep their original text byte-unchanged
    # (NULL stays NULL), matching remove_dup_spans' pass-through
    "substring_dedup_cut": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> '') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        grams AS (
          SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS gram
          FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7))) AS g(i)
        ),
        dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
        dpos AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
        rem AS (
          SELECT DISTINCT doc_id, pos + o AS rpos
          FROM dpos, LATERAL (SELECT unnest(generate_series(0, 7))) AS c(o)
        ),
        tok_rows AS (
          SELECT doc_id, i AS pos, t[i] AS tok
          FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)))) AS g(i)
        ),
        cut AS (
          SELECT tr.doc_id,
                 coalesce(
                   string_agg(tr.tok, ' ' ORDER BY tr.pos)
                     FILTER (WHERE r.rpos IS NULL), '') AS cut_text,
                 count(*) FILTER (WHERE r.rpos IS NOT NULL) AS n_removed
          FROM tok_rows tr
          LEFT JOIN rem r ON r.doc_id = tr.doc_id AND r.rpos = tr.pos
          GROUP BY tr.doc_id
        )
        SELECT d.doc_id,
               CASE WHEN coalesce(c.n_removed, 0) = 0 THEN d.text
                    ELSE c.cut_text END AS text,
               coalesce(c.n_removed, 0)::BIGINT AS n_tokens_removed
        FROM documents d LEFT JOIN cut c USING (doc_id)
    """,
    # same 8-table hyperplane bucketing as the Spark path (plane sets
    # seeded 42..49 baked into both plans); a pair qualifies if it
    # collides in ANY table -- the oracle checks the approximate
    # multi-table semantics themselves, not the exact answer
    "embedding_near_dup_lsh": _sql_lsh_union_pairs(0.4),
    "similarity_topk": f"""
        SELECT query_id, vec_id, cosine, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                 round({_sql_cosine("c.embedding", "q.embedding")}, 6) AS cosine,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round({_sql_cosine("c.embedding", "q.embedding")}, 6) DESC,
                            c.vec_id ASC) AS rank
          FROM embeddings c, embeddings q WHERE q.vec_id < 10
        ) WHERE rank <= 10
    """,
    # IVF-flat ANN: identical deterministic coarse quantizer (centroids =
    # vec_id % stride = 0, argmax-cosine assignment with round-6 +
    # smaller-cid tie-break), nprobe nearest lists per query -- the
    # oracle checks the approximate IVF semantics themselves
    # trained-centroid IVF: Lloyd rounds unrolled as CTEs; search CTEs
    # identical to similarity_ivf_topk but against cent{ITERS}
    "similarity_ivf_trained": f"""
        WITH {_sql_ivf_trained_ctes(_IVF_TRAIN_ITERS)},
        assigned AS (
          SELECT vec_id, embedding, cid FROM (
            SELECT c.vec_id, c.embedding, k.cid,
                   row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY round({_sql_cosine("c.embedding", "k.cvec")}, 6) DESC,
                              k.cid ASC) AS rn
            FROM embeddings c CROSS JOIN cent{_IVF_TRAIN_ITERS} k
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT query_id, cid FROM (
            SELECT q.vec_id AS query_id, k.cid,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY round({_sql_cosine("q.embedding", "k.cvec")}, 6) DESC,
                              k.cid ASC) AS rn
            FROM embeddings q CROSS JOIN cent{_IVF_TRAIN_ITERS} k
            WHERE q.vec_id < 10
          ) WHERE rn <= {_IVF_NPROBE}
        )
        SELECT query_id, vec_id, cosine, rank FROM (
          SELECT p.query_id, a.vec_id,
                 round({_sql_cosine("a.embedding", "q.embedding")}, 6) AS cosine,
                 row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY round({_sql_cosine("a.embedding", "q.embedding")}, 6) DESC,
                            a.vec_id ASC) AS rank
          FROM probes p
          JOIN assigned a USING (cid)
          JOIN embeddings q ON q.vec_id = p.query_id
        ) WHERE rank <= 5
    """,
    # SemDeDup: trained-centroid assignment (identical CTE chain to
    # similarity_ivf_trained), then the deterministic smaller-id prune
    # rule within each cluster (functions/semantic.py contract)
    "semantic_dedup": f"""
        WITH {_sql_ivf_trained_ctes(_IVF_TRAIN_ITERS)},
        assign AS (
          SELECT vec_id, embedding, cid FROM (
            SELECT c.vec_id, c.embedding, k.cid,
                   row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY round({_sql_cosine("c.embedding", "k.cvec")}, 6) DESC,
                              k.cid ASC) AS rn
            FROM embeddings c CROSS JOIN cent{_IVF_TRAIN_ITERS} k
          ) WHERE rn = 1
        ),
        dropped AS (
          -- NOT isnan: SQL orders NaN above +Inf, so a NaN cosine
          -- (non-finite vector) would satisfy >= threshold here while
          -- the engine's numpy kernel follows IEEE (NaN >= t is False
          -- -- a NaN vector is nobody's duplicate).  r18 non-finite
          -- sweep; engine semantics win.
          SELECT DISTINCT b.vec_id
          FROM assign a JOIN assign b
            ON a.cid = b.cid AND a.vec_id < b.vec_id
          WHERE round({_sql_cosine("a.embedding", "b.embedding")}, 6)
                  >= {_SEMDEDUP_THRESHOLD}
            AND NOT isnan(round({_sql_cosine("a.embedding", "b.embedding")}, 6))
        )
        SELECT a.vec_id, a.cid AS cluster_id, (d.vec_id IS NULL) AS keep
        FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    """,
    # int8 symmetric quantization: scale = max|x|/127 (1e-30 guard),
    # codes = round(x/scale) half-away-from-zero in both engines
    "embedding_quantize": f"""
        WITH s AS (
          -- non-finite vectors have no int8 representation: scale NULL
          -- (engine: quantize_int8_frame's forall-finite guard)
          SELECT vec_id, embedding,
                 CASE WHEN len(list_filter(embedding,
                             x -> NOT isfinite(x))) = 0
                      THEN greatest(list_max(list_transform(embedding,
                             x -> abs(x::DOUBLE))), 1e-30) / 127.0
                 END AS scale
          FROM embeddings
        )
        SELECT vec_id, scale,
               CASE WHEN scale IS NOT NULL THEN
                 array_to_string(list_transform(embedding,
                              x -> round(x::DOUBLE / scale)::INT), ',')
               END AS qvec,
               CASE WHEN scale IS NOT NULL THEN
                 round(list_sum(list_transform(embedding,
                     x -> pow(x::DOUBLE - round(x::DOUBLE / scale) * scale, 2)))
                     / {_EMB_DIM}.0, 9)
               END AS mse
        FROM s
    """,
    # two-stage SQ8 search: candidate rank by reconstructed int8 dot
    # (scale_c * scale_q * <codes>), exact float rescore of the top 20
    # full two-stage TRAINED-PQ pipeline mirroring functions/pq.py:
    # stride-seeded codebooks, fixed-point argmin encode, ONE Lloyd
    # round (per-(s,code) subvector means rounded to 6, emptied cells
    # re-densified to 0..k'-1 by old-code order), re-encode against the
    # trained books, integer ADC sum (order-independent), exact cosine
    # rescore
    # IVF-PQ, production layout: Lloyd-trained CAPPED coarse centroids
    # (seed = FIRST _IVF_KCENT stride-matching vec_ids ascending --
    # order-independent, holds for sparse/negative id spaces; one round
    # of per-dim means rounded to 6 -- the linear-build configuration
    # the engine persists via build_ivfpq_index), then probe + PQ
    # encode + integer-ADC + exact rescore as similarity_pq_topk
    "similarity_ivfpq_topk": f"""
        WITH cent0 AS (
          SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
          FROM embeddings
          WHERE vec_id % {_IVF_STRIDE} = 0
          ORDER BY vec_id ASC LIMIT {_IVF_KCENT}
        ),
        a0 AS (
          SELECT vec_id, cid FROM (
            SELECT c.vec_id, k.cid,
                   row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY round({_sql_cosine("c.embedding", "k.cvec")}, 6) DESC,
                              k.cid ASC) AS rn
            FROM embeddings c CROSS JOIN cent0 k
            WHERE c.vec_id < {_IVF_TRAIN_LIMIT}
          ) WHERE rn = 1
        ),
        u0 AS (
          SELECT a.cid, gs.i AS i,
                 round(avg(e.embedding[gs.i]::DOUBLE), 6) AS v
          FROM a0 a
          JOIN embeddings e USING (vec_id)
          CROSS JOIN generate_series(1, {_EMB_DIM}) gs(i)
          GROUP BY a.cid, gs.i
        ),
        cent AS (
          SELECT cid, list(v ORDER BY i) AS cvec FROM u0 GROUP BY cid
        ),
        cassigned AS (
          SELECT vec_id, cid FROM (
            SELECT c.vec_id, k.cid,
                   row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY round({_sql_cosine("c.embedding", "k.cvec")}, 6) DESC,
                              k.cid ASC) AS rn
            FROM embeddings c CROSS JOIN cent k
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT query_id, cid FROM (
            SELECT q.vec_id AS query_id, k.cid,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY round({_sql_cosine("q.embedding", "k.cvec")}, 6) DESC,
                              k.cid ASC) AS rn
            FROM embeddings q CROSS JOIN cent k
            WHERE q.vec_id < 10
          ) WHERE rn <= 3
        ),
        seeds AS (
          SELECT embedding::DOUBLE[] AS sv,
                 row_number() OVER (ORDER BY vec_id) - 1 AS code
          FROM embeddings
          WHERE vec_id % 15 = 0 AND vec_id < 480
        ),
        cb AS (
          SELECT sp.s, seeds.code, seeds.sv[sp.s*8+1 : sp.s*8+8] AS cvec
          FROM seeds CROSS JOIN
               (SELECT unnest(generate_series(0, 7)) AS s) sp
        ),
        enc AS (
          SELECT vec_id, s, code FROM (
            SELECT c.vec_id, b.s, b.code,
                   row_number() OVER (
                     PARTITION BY c.vec_id, b.s
                     ORDER BY CAST(round(((c.embedding[b.s*8+1] - b.cvec[1]) * (c.embedding[b.s*8+1] - b.cvec[1]) + (c.embedding[b.s*8+2] - b.cvec[2]) * (c.embedding[b.s*8+2] - b.cvec[2]) + (c.embedding[b.s*8+3] - b.cvec[3]) * (c.embedding[b.s*8+3] - b.cvec[3]) + (c.embedding[b.s*8+4] - b.cvec[4]) * (c.embedding[b.s*8+4] - b.cvec[4]) + (c.embedding[b.s*8+5] - b.cvec[5]) * (c.embedding[b.s*8+5] - b.cvec[5]) + (c.embedding[b.s*8+6] - b.cvec[6]) * (c.embedding[b.s*8+6] - b.cvec[6]) + (c.embedding[b.s*8+7] - b.cvec[7]) * (c.embedding[b.s*8+7] - b.cvec[7]) + (c.embedding[b.s*8+8] - b.cvec[8]) * (c.embedding[b.s*8+8] - b.cvec[8])) * 1000000) AS BIGINT) ASC,
                              b.code ASC) AS rn
            FROM embeddings c CROSS JOIN cb b
          ) WHERE rn = 1
        ),
        lut AS (
          SELECT q.vec_id AS query_id, b.s, b.code,
                 CAST(round(((q.embedding[b.s*8+1] * b.cvec[1]) + (q.embedding[b.s*8+2] * b.cvec[2]) + (q.embedding[b.s*8+3] * b.cvec[3]) + (q.embedding[b.s*8+4] * b.cvec[4]) + (q.embedding[b.s*8+5] * b.cvec[5]) + (q.embedding[b.s*8+6] * b.cvec[6]) + (q.embedding[b.s*8+7] * b.cvec[7]) + (q.embedding[b.s*8+8] * b.cvec[8])) * 1000000) AS BIGINT) AS p
          FROM embeddings q CROSS JOIN cb b
          WHERE q.vec_id < 10
        ),
        approx AS (
          SELECT e.vec_id, p.query_id, sum(l.p) AS approx_fp
          FROM enc e
          JOIN cassigned a ON e.vec_id = a.vec_id
          JOIN probes p ON a.cid = p.cid
          JOIN lut l ON e.s = l.s AND e.code = l.code
                    AND l.query_id = p.query_id
          GROUP BY e.vec_id, p.query_id
        ),
        cand AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY approx_fp DESC, vec_id ASC) AS rn
            FROM approx
          ) WHERE rn <= 80
        )
        SELECT query_id, vec_id, cosine, rank FROM (
          SELECT cd.query_id, cd.vec_id,
                 round({_sql_cosine("e.embedding", "q.embedding")}, 6) AS cosine,
                 row_number() OVER (
                   PARTITION BY cd.query_id
                   ORDER BY round({_sql_cosine("e.embedding", "q.embedding")}, 6) DESC,
                            cd.vec_id ASC) AS rank
          FROM cand cd
          JOIN embeddings e ON cd.vec_id = e.vec_id
          JOIN embeddings q ON cd.query_id = q.vec_id
        ) WHERE rank <= 10
    """,
    # BM25 (Lucene +1-smoothed idf, k1=1.2 b=0.75); per-term
    # contributions fixed-point BIGINT so sums are order-independent
    "bm25_search": """
        WITH d AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'), x -> x <> '') AS toks
          FROM documents
        ),
        dd AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
        stats AS (
          SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dd
        ),
        posts AS (
          SELECT doc_id, term, count(*)::BIGINT AS tf, min(dl) AS dl
          FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dd)
          WHERE term IN ('hash', 'join', 'scan')
          GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, count(*)::BIGINT AS df FROM posts GROUP BY term),
        scored AS (
          SELECT p.doc_id,
                 sum(CAST(round(
                   ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                   * (p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl)))
                   * 1000000000) AS BIGINT)) AS score_fp
          FROM posts p JOIN dfreq f USING (term) CROSS JOIN stats s
          GROUP BY p.doc_id
        )
        SELECT doc_id, round(score_fp / 1000000000.0, 6) AS score,
               row_number() OVER (ORDER BY round(score_fp / 1000000000.0, 6) DESC,
                                  doc_id ASC) AS rank
        FROM scored
        ORDER BY score DESC, doc_id ASC
        LIMIT 20
    """,
    # keep rule over the same recursive-CC clusters: representative =
    # min label == own id; unclustered docs all survive
    "fuzzy_dedup_keep": f"""
        WITH RECURSIVE {_MINHASH_PAIR_CTES},
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        comp(doc_id, lab) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, c.lab FROM edges e JOIN comp c ON c.doc_id = e.dst
        ),
        dropped AS (
          SELECT doc_id FROM (
            SELECT doc_id, min(lab) AS cluster_id FROM comp GROUP BY doc_id
          ) WHERE doc_id != cluster_id
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d LEFT JOIN dropped x ON d.doc_id = x.doc_id
        WHERE x.doc_id IS NULL
    """,
    # report card: integer-deterministic (quality*10000 sums as BIGINT)
    # one aggregate row per funnel stage over the shared per-doc
    # signal CTE; percentiles via quantile_disc (== percentile_approx
    # at this n, pinned since r13b), distincts exact
    "profile_funnel": _SQL_PROFILE_FUNNEL,
    # banded simhash pairs: bands = max_hamming+1 (exact by pigeonhole),
    # verified with popcount(xor)
    "simhash_pairs": f"""
        WITH toks AS (
          SELECT doc_id, unnest({_sql_tokens()}) AS tok FROM documents
        ),
        h AS (SELECT doc_id, {_sql_md5_long("tok")} AS h FROM toks),
        perbit AS (
          SELECT doc_id, b.bit AS bit,
                 sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM h CROSS JOIN range({_SIMHASH_BITS}) b(bit)
          GROUP BY doc_id, b.bit
        ),
        sigs AS (
          SELECT doc_id,
                 sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS sig
          FROM perbit GROUP BY doc_id
        ),
        sliced AS (
          SELECT doc_id, sig, b.band AS band,
                 (sig >> (b.band * 8)) & 255 AS val
          FROM sigs CROSS JOIN range(4) b(band)
        )
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
               bit_count(xor(l.sig, r.sig))::INT AS hamming
        FROM sliced l JOIN sliced r
          ON l.band = r.band AND l.val = r.val AND l.doc_id < r.doc_id
        WHERE bit_count(xor(l.sig, r.sig)) <= 3
    """,
    "multimodal_meta": """
        SELECT doc_id AS media_id,
               'image' AS kind,
               octet_length(encode(text))::BIGINT AS n_bytes,
               sha256(text) AS sha256,
               (64 + ('0x' || substr(sha256(text), 1, 2))::INT)::INT AS width,
               (64 + ('0x' || substr(sha256(text), 3, 2))::INT)::INT AS height,
               NULL::BIGINT AS duration_ms
        FROM documents
    """,
    # The real PNG codec round-trip: the Spark side actually encodes
    # and decodes per-document images (zlib + filter reconstruction);
    # losslessness means the oracle needs only the closed-form
    # arithmetic for the dims and per-channel constants (v <= 250, so
    # v itself needs no mod; channels add 83 and 166).
    "multimodal_pixel_roundtrip": """
        SELECT doc_id,
               (4 + doc_id % 13)::INT AS width,
               (3 + doc_id % 7)::INT AS height,
               ((4 + doc_id % 13) * (3 + doc_id % 7) *
                ((doc_id % 251)
                 + ((doc_id % 251) + 83) % 256
                 + ((doc_id % 251) + 166) % 256))::BIGINT AS pixel_sum
        FROM documents
    """,
    # The real WAV PCM16 + feature round-trip: amplitude (1+id%7)/8 is
    # dyadic so encode(32768 scale) -> decode(/32768) is bit-exact and
    # RMS/peak equal the amplitude; alternating signs make the
    # zero-crossing rate exactly 1.
    "audio_features_real": """
        SELECT doc_id AS media_id,
               8000::INT AS sample_rate,
               (800 + (doc_id % 5) * 400)::BIGINT AS n_frames,
               1::INT AS n_channels,
               (100 + (doc_id % 5) * 50)::BIGINT AS duration_ms,
               (1 + doc_id % 7) / 8.0 AS rms,
               (1 + doc_id % 7) / 8.0 AS peak,
               1.0::DOUBLE AS zero_cross_rate
        FROM documents
    """,
    # PII redaction over the same synthesized ticket text (identical
    # arithmetic + concat_ws null-skipping on both engines); counts via
    # regexp_extract_all, redaction via chained regexp_replace(..., 'g').
    # Patterns are RE2/Java-regex-portable by construction (classes +
    # \b + bounded repeats only).
    "pii_redact": r"""
        WITH t AS (
          SELECT c_custkey,
                 concat_ws(' ',
                   c_name, 'contact:',
                   CASE WHEN c_custkey % 3 <> 0 THEN
                     lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g')) || '@example.com'
                   END,
                   CASE WHEN c_custkey % 2 = 0 THEN
                     concat_ws('-',
                       CAST(c_custkey % 900 + 100 AS VARCHAR),
                       CAST((c_custkey * 7) % 900 + 100 AS VARCHAR),
                       CAST((c_custkey * 13) % 9000 + 1000 AS VARCHAR))
                   END,
                   CASE WHEN c_custkey % 5 <> 0 THEN
                     concat_ws('.',
                       CAST(c_custkey % 256 AS VARCHAR),
                       CAST((c_custkey * 3) % 256 AS VARCHAR),
                       CAST((c_custkey * 5) % 256 AS VARCHAR),
                       CAST((c_custkey * 7) % 256 AS VARCHAR))
                   END,
                   CASE WHEN c_custkey % 7 = 0 THEN
                     concat_ws('-',
                       lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0'),
                       lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0'),
                       lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0'))
                   END) AS ticket
          FROM customer
        )
        SELECT c_custkey, ticket,
               len(regexp_extract_all(ticket,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
               len(regexp_extract_all(ticket, '\b\d{3}-\d{2}-\d{4}\b'))::BIGINT AS n_ssn,
               len(regexp_extract_all(ticket, '\b\d{3}-\d{3}-\d{4}\b'))::BIGINT AS n_phone,
               len(regexp_extract_all(ticket,
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(ticket,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                     '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
                   '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS redacted
        FROM t
    """,
    # Word-level repetition signals: identical \s+ tokenization (with the
    # empty-text guard), bigram mode via group + row_number with the same
    # (count DESC, bigram ASC) tie-break the Spark min_by struct encodes.
    "repetition_stats": r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '') AS toks
          FROM documents
        ),
        bc AS (
          SELECT doc_id, bigram, count(*) AS cnt FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i+1])) AS bigram
            FROM t WHERE len(toks) >= 2
          ) GROUP BY doc_id, bigram
        ),
        top AS (
          SELECT doc_id, bigram, cnt,
                 sum(cnt) OVER (PARTITION BY doc_id) AS nb,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY cnt DESC, bigram ASC) AS rn
          FROM bc
        )
        SELECT t.doc_id,
               len(toks)::BIGINT AS n_tokens,
               len(list_distinct(toks))::BIGINT AS n_unique_tokens,
               CASE WHEN len(toks) > 0
                    THEN round(1.0 - len(list_distinct(toks)) / len(toks), 6)
                    ELSE 0.0 END AS dup_token_frac,
               top.bigram AS top_bigram,
               coalesce(top.cnt, 0)::BIGINT AS top_bigram_count,
               coalesce(round(top.cnt / top.nb, 6), 0.0) AS top_bigram_frac
        FROM t LEFT JOIN (SELECT * FROM top WHERE rn = 1) top USING (doc_id)
    """,
    # Benchmark contamination: every 25th doc is the stand-in eval set;
    # distinct 5-word-gram overlap, same tokenization and slicing.
    # Deterministic mixture sampling: identical md5-prefix bucket
    # (15 hex chars -> bigint % 1e6) and integer thresholds.  src0-3
    # keep 1.0, src4-9 keep 0.4, default 0.1, seed 42.
    # Full curation recipe: the corpus_curation lang/quality chain +
    # word-repetition cut + exact dedup + contamination drop + mixture
    # threshold, each sub-expression identical to its standalone green
    # oracle.
    "curation_pipeline": f"""
        WITH t AS (
          SELECT doc_id, text, source, {_sql_tokens()} AS toks FROM documents
        ), h AS (
          SELECT doc_id, text, source, toks,
                 {", ".join(f"{_sql_hits('toks', STOPWORDS[lang])} AS h_{lang}" for lang in STOPWORDS)}
          FROM t
        ), m AS (
          SELECT doc_id, text, source, toks,
                 {_sql_lang_case()} AS lang,
                 len(toks)::DOUBLE AS n_tok,
                 length(text)::DOUBLE AS n_chars,
                 CASE WHEN len(toks) > 0
                      THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
                      ELSE 0.0 END AS mean_tok_len,
                 CASE WHEN length(text) > 0
                      THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)
                      ELSE 0.0 END AS punct_ratio,
                 CASE WHEN len(toks) > 0
                      THEN len(list_filter(toks, t -> t IN ({_STOP_IN})))::DOUBLE / len(toks)
                      ELSE 0.0 END AS stop_ratio
          FROM h
        ), q AS (
          SELECT doc_id, source, lang, toks, text,
                 round(0.25 * least(1.0, n_tok / 64.0)
                     + 0.25 * least(1.0, mean_tok_len / 8.0)
                     + 0.25 * (1.0 - least(1.0, punct_ratio * 10.0))
                     + 0.25 * least(1.0, stop_ratio * 4.0), 4) AS quality,
                 CASE WHEN len(toks) > 0
                      THEN round(1.0 - len(list_distinct(toks)) / len(toks), 6)
                      ELSE 0.0 END AS dup_token_frac
          FROM m
        ), g AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= {_CONTAM_N} THEN
                   list_distinct(list_transform(range(1, len(toks) - {_CONTAM_N - 2}),
                     i -> array_to_string(toks[i:i+{_CONTAM_N - 1}], ' ')))
                 ELSE CAST([] AS VARCHAR[]) END AS grams
          FROM t
        ), bench AS (
          SELECT DISTINCT unnest(grams) AS gram FROM g
          WHERE doc_id % {_CONTAM_BENCH_MOD} = 0
        ), corp AS (
          SELECT doc_id, grams FROM g WHERE doc_id % {_CONTAM_BENCH_MOD} <> 0
        ), hits AS (
          SELECT doc_id, count(*) AS n_overlap FROM (
            SELECT doc_id, unnest(grams) AS gram FROM corp
          ) e JOIN bench USING (gram) GROUP BY doc_id
        ), kept AS (
          SELECT q.doc_id, q.source, q.quality, q.dup_token_frac, q.text
          FROM q JOIN corp ON q.doc_id = corp.doc_id
          LEFT JOIN hits ON q.doc_id = hits.doc_id
          WHERE q.lang = 'en' AND q.quality >= 0.5
            AND q.dup_token_frac <= 0.6
            AND coalesce(hits.n_overlap, 0) = 0
        ),
        -- r18: substring mark+cut over the gated survivors (the
        -- substring_dedup_cut gram CTEs, population = kept)
        ktoks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> '') AS t
          FROM kept WHERE length(trim(text)) > 0
        ),
        kgrams AS (
          SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS gram
          FROM ktoks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7))) AS g(i)
        ),
        kdup AS (SELECT gram FROM kgrams GROUP BY gram HAVING count(*) >= 2),
        kdpos AS (SELECT g.doc_id, g.pos FROM kgrams g JOIN kdup USING (gram)),
        krem AS (
          SELECT DISTINCT doc_id, pos + o AS rpos
          FROM kdpos, LATERAL (SELECT unnest(generate_series(0, 7))) AS c(o)
        ),
        ktok_rows AS (
          SELECT doc_id, i AS pos, t[i] AS tok
          FROM ktoks, LATERAL (SELECT unnest(generate_series(1, len(t)))) AS g(i)
        ),
        kcut AS (
          SELECT tr.doc_id,
                 coalesce(
                   string_agg(tr.tok, ' ' ORDER BY tr.pos)
                     FILTER (WHERE r.rpos IS NULL), '') AS cut_text,
                 count(*) FILTER (WHERE r.rpos IS NOT NULL) AS n_removed
          FROM ktok_rows tr
          LEFT JOIN krem r ON r.doc_id = tr.doc_id AND r.rpos = tr.pos
          GROUP BY tr.doc_id
        ),
        cutk AS (
          SELECT k.doc_id, k.source, k.quality, k.dup_token_frac,
                 CASE WHEN coalesce(c.n_removed, 0) = 0 THEN k.text
                      ELSE c.cut_text END AS text,
                 coalesce(c.n_removed, 0)::BIGINT AS n_cut_tokens
          FROM kept k LEFT JOIN kcut c USING (doc_id)
        ), deduped AS (
          SELECT doc_id, source, quality, dup_token_frac, n_cut_tokens
          FROM (
            SELECT *, row_number() OVER (PARTITION BY md5({_sql_norm()})
                                         ORDER BY doc_id ASC) AS rn
            FROM cutk
          ) WHERE rn = 1
        )
        SELECT doc_id, source, quality, dup_token_frac, n_cut_tokens
        FROM deduped
        WHERE {_sql_md5_long("CAST(doc_id AS VARCHAR) || '|42'")} % 1000000 < CASE
          WHEN source IN ('src0','src1','src2','src3') THEN 1000000
          WHEN source IN ('src4','src5','src6','src7','src8','src9') THEN 400000
          ELSE 100000 END
    """,
    # Reproducible split assignment: cumulative bucket ranges
    # train [0, 800000), valid [800000, 900000), test [900000, 1e6).
    # DSIR importance weights: identical hashing (md5-prefix buckets over
    # whitespace unigrams + adjacent bigrams), identical add-0.5 smoothed
    # distributions, and the same 1e-9 fixed-point rounding of per-bucket
    # log-ratios BEFORE the per-doc integer sum (order-independence =
    # engine reproducibility, the BM25 trick).
    # token-budget mixture: same whitespace tokenization, one per-source
    # total, min(1, share*budget/total) as an integer 1e-6 threshold on
    # the shared md5 hash-bucket uniform.
    "token_budget_mixture": f"""
        WITH d AS (
          SELECT doc_id, source,
                 len({_sql_tokens()})::BIGINT AS n_tokens
          FROM documents
        ),
        tot AS (SELECT source, sum(n_tokens) AS tot FROM d GROUP BY source),
        thr AS (
          SELECT source,
                 round(least(1.0,
                             (CASE source WHEN 'src0' THEN 0.5
                                          WHEN 'src1' THEN 0.3
                                          ELSE 0.01 END)
                             * {float(_TOKEN_BUDGET)} / tot) * 1000000,
                       0)::BIGINT AS thr
          FROM tot
        )
        SELECT d.doc_id, d.source, d.n_tokens
        FROM d JOIN thr USING (source)
        WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|42'), 1, 15))::BIGINT)
              % 1000000 < thr
    """,
    # pHash near-dup over planted group-duplicate images: the oracle is
    # the planted ground truth (same id-group -> identical image ->
    # Hamming 0); cross-group noise images pairing within 3 bits has
    # probability ~2^-50 per pair, and the generator is deterministic.
    "image_phash_pairs": """
        SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, 0::INT AS hamming
        FROM documents l JOIN documents r
          ON l.doc_id // 3 = r.doc_id // 3 AND l.doc_id < r.doc_id
    """,
    # audio fingerprint near-dup: same planted-ground-truth shape as
    # image_phash_pairs (identical WAV within a group -> Hamming 0).
    "audio_fingerprint_pairs": """
        SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, 0::INT AS hamming
        FROM documents l JOIN documents r
          ON l.doc_id // 3 = r.doc_id // 3 AND l.doc_id < r.doc_id
    """,
    # boilerplate line removal: same synthetic banner/nav/spacer/footer
    # construction as the Spark query; EVERY occurrence of a normalized
    # line with document-frequency >= 3 is removed, whitespace-only
    # lines pass through unfingerprinted, docs reassemble in line order.
    "boilerplate_line_dedup": f"""
        WITH src AS (
          SELECT doc_id,
                 concat_ws(chr(10), 'COOKIE BANNER', text,
                           'nav-' || CAST(doc_id % 5 AS VARCHAR),
                           '  ', '(c) footer') AS t
          FROM documents
        ),
        arrs AS (SELECT doc_id, string_split(t, chr(10)) AS arr FROM src),
        subs AS (
          SELECT doc_id, arr, generate_subscripts(arr, 1) AS pos FROM arrs
        ),
        ln AS (SELECT doc_id, pos, arr[pos] AS line FROM subs),
        norm AS (
          SELECT doc_id, pos, line, {_sql_norm("line")} AS n FROM ln
        ),
        boiler AS (
          SELECT n FROM norm WHERE n <> ''
          GROUP BY n HAVING count(DISTINCT doc_id) >= 3
        ),
        kept AS (
          SELECT doc_id, pos, line FROM norm
          WHERE n = '' OR n NOT IN (SELECT n FROM boiler)
        ),
        rebuilt AS (
          SELECT doc_id, count(*) AS n_kept_all,
                 string_agg(line, chr(10) ORDER BY pos) AS text
          FROM kept GROUP BY doc_id
        ),
        counts AS (SELECT doc_id, count(*) AS n_lines FROM norm GROUP BY doc_id)
        SELECT c.doc_id, coalesce(r.text, '') AS text, c.n_lines,
               CAST(c.n_lines - coalesce(r.n_kept_all, 0) AS BIGINT) AS n_removed
        FROM counts c LEFT JOIN rebuilt r USING (doc_id)
    """,
    # bigram LM quality: Laplace-smoothed P(cur|prev) under the corpus'
    # own bigram counts, V = corpus vocabulary; per-doc n-weighted mean
    # of -log2 p rounded to 6 digits (absorbs summation-order float
    # drift, the unigram_quality convention).
    # sliding-window chunker: 24-token windows, stride 16; last chunk
    # may be short; empty docs contribute no rows.
    # exact-k per-source cap: rank by the engine's md5 bucket (seed 42,
    # the mixture_sample construction), ties on doc_id, keep rank <= 18.
    "per_source_cap": """
        WITH b AS (
          SELECT doc_id, source,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|42'), 1, 15))
                      AS BIGINT) % 1000000 AS bucket
          FROM documents
        ),
        r AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source ORDER BY bucket, doc_id)
                   AS src_rank
          FROM b
        )
        SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank
        FROM r WHERE src_rank <= 18
    """,
    # stratified ntile(4) over (n_chars, doc_id) within source -- both
    # engines implement standard SQL ntile (first count%n buckets get
    # the extra row), and the doc_id tie-break totalizes the order.
    # quality_bucket_approx: Spark's percentile_approx at accuracy >=
    # stratum size is the EXACT discrete quantile, which DuckDB's
    # quantile_disc defines identically (verified element-for-element
    # at sf0.01), so both engines derive the same per-source cut points
    # and the same row-local 1 + #cuts-below assignment.
    # stupid-backoff LM on the even/odd split, replayed in full --
    # reference counts, the three-way backoff CASE, the n-weighted
    # -log2 mean, then the retired quality_buckets slot's exact-ntile
    # + quantile_disc cut machinery over the LM score
    "lm_ppl_buckets": f"""
        WITH toks AS (
          SELECT doc_id, source, {_sql_tokens()} AS toks FROM documents
        ),
        ref AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
        held AS (
          SELECT * FROM toks WHERE doc_id % 2 = 1 AND len(toks) > 0
        ),
        cu AS (
          SELECT tok, count(*)::BIGINT AS cu
          FROM (SELECT unnest(toks) AS tok FROM ref) GROUP BY tok
        ),
        tot AS (SELECT sum(cu)::DOUBLE AS t FROM cu),
        c2 AS (
          SELECT prev, cur, count(*)::BIGINT AS c2
          FROM (
            SELECT toks[i + 1] AS prev, toks[i + 2] AS cur
            FROM ref, unnest(range(greatest(len(toks) - 1, 0))) AS u(i)
          ) GROUP BY prev, cur
        ),
        c1 AS (SELECT prev, sum(c2)::BIGINT AS c1 FROM c2 GROUP BY prev),
        inst AS (
          SELECT doc_id, prev, cur, count(*)::BIGINT AS n
          FROM (
            SELECT doc_id,
                   CASE WHEN i = 0 THEN NULL ELSE toks[i] END AS prev,
                   toks[i + 1] AS cur
            FROM held, unnest(range(len(toks))) AS u(i)
          ) GROUP BY doc_id, prev, cur
        ),
        scored AS (
          SELECT h.doc_id, h.n,
                 CASE WHEN h.prev IS NULL
                        THEN coalesce(cu.cu::DOUBLE, 0.5) / t.t
                      WHEN b.c2 IS NOT NULL
                        THEN b.c2::DOUBLE / c1.c1::DOUBLE
                      ELSE 0.4 * coalesce(cu.cu::DOUBLE, 0.5) / t.t
                 END AS s,
                 (h.prev IS NOT NULL AND b.c2 IS NOT NULL) AS hit,
                 (h.prev IS NOT NULL AND b.c2 IS NULL) AS bo,
                 (cu.cu IS NULL) AS oov
          FROM inst h
          LEFT JOIN c2 b ON h.prev = b.prev AND h.cur = b.cur
          LEFT JOIN c1 ON h.prev = c1.prev
          LEFT JOIN cu ON h.cur = cu.tok
          CROSS JOIN tot t
        ),
        doc AS (
          SELECT doc_id,
                 sum(n)::BIGINT AS n_tokens,
                 sum(CASE WHEN hit THEN n ELSE 0 END)::BIGINT
                   AS n_bigram_hit,
                 sum(CASE WHEN bo THEN n ELSE 0 END)::BIGINT AS n_backoff,
                 sum(CASE WHEN oov THEN n ELSE 0 END)::BIGINT AS n_oov,
                 round(sum(n * -log2(s)) / sum(n), 6) AS lm_logprob
          FROM scored GROUP BY doc_id
        ),
        withsrc AS (
          SELECT doc.*, dd.source FROM doc
          JOIN documents dd ON doc.doc_id = dd.doc_id
        ),
        cuts AS (
          SELECT source,
                 [quantile_disc(lm_logprob, 0.25),
                  quantile_disc(lm_logprob, 0.5),
                  quantile_disc(lm_logprob, 0.75)] AS cut_arr
          FROM withsrc GROUP BY source
        )
        SELECT w.doc_id, w.source, w.n_tokens, w.n_bigram_hit,
               w.n_backoff, w.n_oov, w.lm_logprob,
               CAST(ntile(4) OVER (PARTITION BY w.source
                                   ORDER BY w.lm_logprob, w.doc_id)
                    AS BIGINT) AS ppl_bucket,
               (1 + len(list_filter(c.cut_arr, x -> w.lm_logprob > x)))
                 ::BIGINT AS ppl_bucket_approx
        FROM withsrc w JOIN cuts c ON w.source = c.source
    """,
    # markup strip over the same in-plan HTML wrapping: tags -> space,
    # six-entity decode with &amp; LAST, whitespace collapse; n_tags
    # counts tag matches, n_chars_removed is the net shrinkage.
    # iterative BPE training: 8 chained merge rounds, each a pair-count
    # aggregate + (count desc, pair asc) argmax + list_reduce fold
    # identical to the engine's leftmost-first non-overlapping merge.
    # train-and-apply: same 8-round CTE chain, final select = the
    # re-segmented vocabulary instead of the rule table.
    # incremental dedup: odd-id batch vs even-id seeded store -- first
    # occurrence (min doc_id) per fingerprint within the batch, then
    # novel against the store's normalized-content md5 set.
    "incremental_dedup": f"""
        WITH f AS (
          SELECT doc_id, md5({_sql_norm()}) AS fingerprint FROM documents
        ),
        batch AS (
          SELECT fingerprint, min(doc_id) AS doc_id FROM f
          WHERE doc_id % 2 = 1 GROUP BY fingerprint
        )
        -- anti-join semantics, not NOT IN: one NULL fingerprint (NULL
        -- text) in the store would NULL-poison NOT IN and reject every
        -- batch row, where the engine's left_anti join never matches a
        -- NULL key (degenerate-corpus sweep); NULL-fingerprint batch
        -- docs likewise always admit
        SELECT doc_id, fingerprint FROM batch
        WHERE fingerprint IS NULL OR fingerprint NOT IN (
          SELECT fingerprint FROM f
          WHERE doc_id % 2 = 0 AND fingerprint IS NOT NULL
        )
    """,
    # ---------------- r14: the r13b operator family ----------------
    # web ingestion: the URL algebra in string SQL; survivors are the
    # two unblocked host classes; NFKC pinned by the planted fullwidth
    # 'A' (corpus text is pure ASCII, so normalize == append 'A')
    "web_ingest_pipeline": """
        SELECT doc_id,
               'http://' || host || '/path/' || doc_id
                   || '?id=' || (doc_id % 50) AS url_norm,
               host AS domain,
               -- NFKC replayed by its KNOWN canonical mappings for
               -- every char any parity corpus contains (all no-ops on
               -- the pure-ASCII stock corpus): the planted fullwidth A
               -- folds to A, NBSP to space, mathematical fraktur
               -- U/n/i to ASCII, combining acute onto 'e' composes to
               -- the precomposed e-acute (r18 unicode sweep)
               replace(replace(replace(replace(replace(
                   text || 'A',
                   chr(160), ' '),
                   chr(120088), 'U'),
                   chr(120107), 'n'),
                   chr(120102), 'i'),
                   'e' || chr(769), chr(233)) AS text_norm,
               -- NULL text: concat propagates NULL in both engines, so
               -- the planted char never lands and nothing changed
               (CASE WHEN text IS NULL THEN 0 ELSE 1 END)::INT AS n_changed
        FROM (
          SELECT doc_id, text,
                 CASE (doc_id % 4) WHEN 2 THEN 'good.org'
                                   WHEN 3 THEN 'news.site.io' END AS host
          FROM documents
          WHERE doc_id % 4 IN (2, 3)
        )
    """,
    # NB classifier, full train-and-score replication: hashed
    # unigram+bigram counts -> smoothed log-odds (round 1e-9) ->
    # per-doc score (re-round 1e-6 on both sides)
    "nb_quality_scores": f"""
        WITH arrs AS (
            SELECT doc_id, doc_id % 2 AS label, {_sql_tokens()} AS a
            FROM documents
        ),
        toks AS (
            SELECT doc_id, label, i AS pos, translate(a[i], 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS tok
            FROM arrs, unnest(range(1, len(a) + 1)) AS t(i)
        ),
        uni AS (
            SELECT doc_id, label,
                   ('0x' || substr(md5(tok), 1, 15))::BIGINT % {_NB_FEATURES}
                       AS feature
            FROM toks
        ),
        bi AS (
            SELECT a.doc_id, a.label,
                   ('0x' || substr(md5(a.tok || ' ' || b.tok), 1, 15))::BIGINT
                       % {_NB_FEATURES} AS feature
            FROM toks a JOIN toks b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ),
        feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
        counts AS (
            SELECT feature,
                   sum(label) AS pos, count(*) - sum(label) AS neg
            FROM feats GROUP BY feature
        ),
        tot AS (SELECT sum(pos) AS pt, sum(neg) AS nt FROM counts),
        w AS (
            SELECT feature,
                   round(ln((pos + 1.0) / (pt + 1.0 * {_NB_FEATURES}))
                         - ln((neg + 1.0) / (nt + 1.0 * {_NB_FEATURES})), 9)
                       AS weight
            FROM counts, tot
        ),
        prior AS (
            SELECT round(ln(sum(doc_id % 2)::DOUBLE
                            / (count(*) - sum(doc_id % 2))), 9) AS p
            FROM documents
        ),
        contrib AS (
            SELECT f.doc_id, coalesce(w.weight,
                   (SELECT round(ln(1.0 / (pt + 1.0 * {_NB_FEATURES}))
                                - ln(1.0 / (nt + 1.0 * {_NB_FEATURES})), 9)
                    FROM tot)) AS c
            FROM feats f LEFT JOIN w USING (feature)
        ),
        scores AS (
            SELECT doc_id, round(sum(c) + (SELECT p FROM prior), 9) AS s
            FROM contrib GROUP BY doc_id
        )
        SELECT d.doc_id,
               round(coalesce(s.s, (SELECT p FROM prior)), 6) AS nb_score
        FROM documents d LEFT JOIN scores s USING (doc_id)
    """,
    # doc-level decontamination pairs: both corpora ride ONE
    # side-tagged signature chain (same md5 base hash, mix params, and
    # band layout as the engine); exact-band matches emit agreement 1.0
    "decontaminate_pairs": f"""
        WITH allc AS (
            SELECT doc_id, text, 't' AS side FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text, 'e' FROM documents
            WHERE doc_id % 10 = 0
        ),
        norm AS (SELECT doc_id, side, {_sql_norm()} AS t FROM allc),
        sh AS (
            SELECT DISTINCT doc_id, side, substr(t, i, 5) AS shingle
            FROM norm, unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS u(i)
            WHERE length(substr(t, i, 5)) = 5
        ),
        hashed AS (
            SELECT doc_id, side,
                   ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h0
            FROM sh
        ),
        sig AS (
            SELECT doc_id, side, [{", ".join(f"min(({a} * h0 + {b}) % {_MINHASH_P})" for a, b in _MINHASH_PARAMS)}] AS signature
            FROM hashed GROUP BY doc_id, side
        ),
        bands AS (
            SELECT doc_id, side,
                   md5(b.i::VARCHAR || ',' ||
                       array_to_string(signature[b.i * {_LSH_ROWS} + 1 : b.i * {_LSH_ROWS} + {_LSH_ROWS}], ',')) AS band_key
            FROM sig CROSS JOIN range({_LSH_BANDS}) b(i)
        )
        SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS eval_doc_id,
               1.0::DOUBLE AS agreement
        FROM bands a JOIN bands b USING (band_key)
        WHERE a.side = 't' AND b.side = 'e'
    """,
    # leakage-guarded split: the dataset_split hash ranges (this
    # query's stage 1 -- r14 fold absorber) + the cross-split MinHash
    # twin drop at agreement >= 0.8
    "leakage_split": f"""
        WITH {_MINHASH_SIG_BAND_CTES},
        split AS (
            SELECT doc_id,
                   CASE WHEN bucket < 800000 THEN 'train'
                        WHEN bucket < 900000 THEN 'valid'
                        ELSE 'test' END AS split
            FROM (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|42'), 1, 15))
                          AS BIGINT) % 1000000 AS bucket
              FROM documents
            )
        ),
        leaks AS (
            SELECT DISTINCT a.doc_id
            FROM sbands a
            JOIN sbands b USING (band_key)
            JOIN split st ON st.doc_id = a.doc_id AND st.split = 'train'
            JOIN split se ON se.doc_id = b.doc_id AND se.split <> 'train'
            WHERE {_sql_sig_agreement("a.signature", "b.signature")} >= 0.8
        )
        SELECT s.doc_id, s.split FROM split s
        WHERE s.split <> 'train'
           OR s.doc_id NOT IN (SELECT doc_id FROM leaks)
    """,
    # fractional upsample -> per-(doc, copy) epoch order key + shard
    "upsample_epoch_shuffle": """
        WITH w AS (
            SELECT doc_id, (doc_id % 30) / 10.0 AS factor FROM documents
        ),
        n AS (
            SELECT doc_id,
                   (floor(factor)
                    + CASE WHEN (('0x' || substr(md5(doc_id::VARCHAR || '|42'), 1, 15))::BIGINT
                                 % 1000000)
                               < CAST(trunc((factor - floor(factor)) * 1000000) AS BIGINT)
                           THEN 1 ELSE 0 END)::INT AS n_copies
            FROM w
            WHERE factor > 0
        ),
        c AS (
            SELECT doc_id, unnest(range(0, n_copies))::INT AS copy_idx
            FROM n WHERE n_copies > 0
        ),
        k AS (
            SELECT doc_id, copy_idx,
                   doc_id::VARCHAR || '#' || copy_idx::VARCHAR AS pkey
            FROM c
        )
        SELECT doc_id, copy_idx,
               ('0x' || substr(md5(pkey || '|11|2'), 1, 15))::BIGINT
                   AS epoch_order,
               ((('0x' || substr(md5(pkey || '|11|2'), 1, 15))::BIGINT)
                   % 8)::INT AS shard
        FROM k
    """,
    # Gumbel top-k without replacement, exact path: same hash-derived
    # Gumbel keys, rank cut at ceil(fraction * n)
    "importance_resample_docs": """
        WITH g AS (
            SELECT doc_id,
                   (doc_id % 7)::DOUBLE
                   - ln(-ln(
                       ((('0x' || substr(md5(doc_id::VARCHAR || '|5'), 1, 15))::BIGINT
                         % 1000000) + 0.5) / 1000000.0
                     )) AS gkey
            FROM documents
        ),
        r AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY gkey DESC, doc_id ASC) AS rn
            FROM g
        )
        SELECT doc_id FROM r
        WHERE rn <= (SELECT CAST(ceil(0.2 * count(*)) AS BIGINT) FROM documents)
    """,
    # incremental MinHash gate: store hits (odd batch vs even store,
    # exact k/16 agreement), then the within-batch pair graph and its
    # recursive-CTE components' min-id keep rule; sub-shingle docs
    # (none in this corpus, guarded anyway) pass through ungated
    "incremental_minhash_gate": f"""
        WITH RECURSIVE {_MINHASH_SIG_BAND_CTES},
        store_hit AS (
            SELECT DISTINCT a.doc_id
            FROM sbands a JOIN sbands b USING (band_key)
            WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
              AND {_sql_sig_agreement("a.signature", "b.signature")} >= 0.7
        ),
        fresh AS (
            SELECT doc_id FROM sig
            WHERE doc_id % 2 = 1
              AND doc_id NOT IN (SELECT doc_id FROM store_hit)
        ),
        bpairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sbands a JOIN sbands b USING (band_key)
            JOIN fresh fa ON fa.doc_id = a.doc_id
            JOIN fresh fb ON fb.doc_id = b.doc_id
            WHERE a.doc_id < b.doc_id
              AND {_sql_sig_agreement("a.signature", "b.signature")} >= 0.7
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM bpairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM bpairs
        ),
        comp(doc_id, lab) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, c.lab FROM edges e JOIN comp c ON c.doc_id = e.dst
        ),
        dropped AS (
            SELECT doc_id
            FROM (SELECT doc_id, min(lab) AS cl FROM comp GROUP BY doc_id)
            WHERE doc_id <> cl
        )
        SELECT doc_id FROM fresh
        WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        UNION ALL
        SELECT doc_id FROM documents
        WHERE doc_id % 2 = 1 AND length(coalesce({_sql_norm()}, '')) < 5
    """,
    # re-crawl snapshot diff: same derivation + full-outer join in SQL
    "corpus_diff_status": r"""
        WITH olds AS (
            SELECT doc_id,
                   md5(CASE WHEN text IS NULL THEN NULL ELSE coalesce(array_to_string(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''), ' '), '') END) AS old_fp
            FROM documents WHERE doc_id % 10 <> 0
        ), news AS (
            SELECT doc_id,
                   md5(CASE WHEN (CASE WHEN doc_id % 10 = 2 THEN text || ' edited' ELSE text END) IS NULL THEN NULL ELSE coalesce(array_to_string(list_filter(regexp_split_to_array((CASE WHEN doc_id % 10 = 2 THEN text || ' edited' ELSE text END), '\s+'), x -> x <> ''), ' '), '') END) AS new_fp
            FROM documents WHERE doc_id % 10 <> 1
        )
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.old_fp IS NOT DISTINCT FROM n.new_fp
                         THEN 'unchanged'
                    ELSE 'changed' END AS status,
               o.old_fp, n.new_fp
        FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id
    """,
    # curriculum: quantile_disc cuts == percentile_approx (probed+pinned
    # in tests/test_oracle_r13b.py); md5 idiom for order key + shard
    "curriculum_assignment": """
        WITH cuts AS (
            SELECT quantile_disc(doc_id % 97, [0.25, 0.5, 0.75]) AS c
            FROM documents
        )
        SELECT doc_id,
               (doc_id % 97)::BIGINT AS score,
               (CASE WHEN doc_id % 97 > c[1] THEN 1 ELSE 0 END
                + CASE WHEN doc_id % 97 > c[2] THEN 1 ELSE 0 END
                + CASE WHEN doc_id % 97 > c[3] THEN 1 ELSE 0 END)::INT
                   AS stage,
               ('0x' || substr(md5(doc_id::VARCHAR || '|11|2'), 1, 15))::BIGINT
                   AS epoch_order,
               ((('0x' || substr(md5(doc_id::VARCHAR || '|11|2'), 1, 15))::BIGINT)
                   % 8)::INT AS shard
        FROM documents, cuts
    """,
    # undirected reachability closure + min label per node
    "connected_components_labels": """
        WITH RECURSIVE e0 AS (
            SELECT (doc_id % 5) + 5 * (doc_id % 7) AS src,
                   (doc_id % 5) + 5 * ((doc_id * 3) % 7) AS dst
            FROM documents
            UNION ALL
            SELECT 100 + doc_id % 3, 100 + doc_id % 3 FROM documents
        ),
        ed AS (SELECT DISTINCT src, dst FROM e0),
        nodes AS (SELECT DISTINCT src AS node FROM ed
                  UNION SELECT DISTINCT dst FROM ed),
        ud AS (
            SELECT src AS a, dst AS b FROM ed WHERE src <> dst
            UNION
            SELECT dst, src FROM ed WHERE src <> dst
        ),
        reach(node, comp) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT u.b, r.comp FROM reach r JOIN ud u ON u.a = r.node
        )
        SELECT node::BIGINT AS node, min(comp)::BIGINT AS component
        FROM reach GROUP BY node
    """,
    # 5 unrolled rank rounds over the arithmetically re-derived edges
    "domain_pagerank_ranks": _sql_pagerank_ctes(_PR_ITERS),
    # URL construction + per-domain RFC 9309 rule outcomes in closed form
    "crawl_frontier_gate": """
        WITH docs AS (SELECT doc_id, doc_id % 5 AS hc FROM documents),
        urls AS (
            SELECT 'url' AS kind,
                   'https://h' || hc || '.example.com/p/' || doc_id AS url,
                   'h' || hc || '.example.com' AS dom,
                   doc_id AS page_id,
                   ('0.' || (doc_id % 9))::DOUBLE AS priority,
                   hc
            FROM docs
        ),
        refs AS (
            SELECT DISTINCT 'sitemap' AS kind,
                   'https://h' || hc || '.example.com/sitemap-pages.xml'
                     AS url,
                   'h' || hc || '.example.com' AS dom,
                   NULL::BIGINT AS page_id, NULL::DOUBLE AS priority, hc
            FROM docs
        ),
        alls AS (SELECT * FROM urls UNION ALL SELECT * FROM refs)
        SELECT kind, url, dom AS domain, page_id, priority
        FROM alls
        WHERE CASE hc
          -- h0: Disallow /p/ with longer Allow /p/1 override
          WHEN 0 THEN kind = 'sitemap'
                      OR starts_with(page_id::VARCHAR, '1')
          -- h1: declared graftbot group (Disallow /p/3) replaces '*'
          WHEN 1 THEN kind = 'sitemap'
                      OR NOT starts_with(page_id::VARCHAR, '3')
          -- h2: declared-EMPTY graftbot group = fully allowed
          WHEN 2 THEN TRUE
          -- h3: '*' Disallow / blocks everything, sitemap refs included
          WHEN 3 THEN FALSE
          -- h4: no robots row
          ELSE TRUE END
    """,
    # fixture block outcomes in closed form; the page-total denominator
    # re-applies the same tag->space + collapse chain to the same page
    "main_content_extract": r"""
        WITH base AS (
            SELECT doc_id, text,
                   '<html><head><title>Site ' || (doc_id % 7) ||
                   '</title></head><body><nav><a href="/">Home</a>' ||
                   ' <a href="/about">About</a>' ||
                   ' <a href="/tags">Tags</a></nav><p>' || text ||
                   ' x &lt; y &amp;amp; z</p><div>' ||
                   '<a href="/p1">rel one</a> <a href="/p2">rel two</a>' ||
                   ' and more chrome</div>' ||
                   '<footer>(c) 2026 example site</footer></body></html>'
                     AS page,
                   CASE WHEN text IS NULL THEN NULL ELSE coalesce(array_to_string(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''), ' '), '') END AS norm
            FROM documents
        ),
        pre AS (
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN length(norm) >= 4
                          THEN norm || ' x &lt; y &amp;amp; z'
                        ELSE '' END AS main_pre,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE length(trim(regexp_replace(regexp_replace(
                               page, '<[^>]*>', ' ', 'g'),
                               '\s+', ' ', 'g'))) END AS total
            FROM base
        ),
        dec AS (
            SELECT doc_id, main_pre, total,
                   replace(replace(replace(replace(replace(replace(
                     main_pre,
                     '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                     '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&')
                     AS decoded
            FROM pre
        )
        SELECT doc_id,
               decoded AS text,
               length(main_pre)::BIGINT AS n_kept_chars,
               CASE WHEN main_pre IS NULL THEN NULL
                    ELSE round(length(main_pre)
                               / greatest(total::DOUBLE, 1.0), 4) END
                 AS kept_frac,
               (length(main_pre) - length(decoded))::BIGINT
                 AS n_chars_removed
        FROM dec
    """,
    # the full SPFHP solve + merge + assignment, replayed in DuckDB
    # (two recursive CTEs over list-state; see _q_pack_bins_report)
    "pack_bins_report": _SQL_SPFHP_PACK,
    # r16b: turn spans re-based into byte-exact SPFHP-packed rendered
    # conversations, substring-verified per row
    "sft_pack_spans": _SQL_SFT_PACK_SPANS,
    # tf top-50 and df top-50, reciprocal-rank fused to the top-30
    "top_terms_rrf": """
        WITH tok AS (
            SELECT doc_id,
                   translate(unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS term
            FROM documents WHERE trim(text) <> ''
        ),
        tf AS (SELECT term, count(*)::BIGINT AS n FROM tok GROUP BY term),
        r1 AS (
            SELECT term, row_number() OVER (ORDER BY n DESC, term ASC) AS rank
            FROM (SELECT * FROM tf ORDER BY n DESC, term ASC LIMIT 50)
        ),
        dfc AS (
            SELECT term, count(DISTINCT doc_id)::BIGINT AS nd
            FROM tok GROUP BY term
        ),
        r2 AS (
            SELECT term, row_number() OVER (ORDER BY nd DESC, term ASC) AS rank
            FROM (SELECT * FROM dfc ORDER BY nd DESC, term ASC LIMIT 50)
        ),
        u AS (
            SELECT term, 1.0 / (60 + rank) AS c FROM r1
            UNION ALL
            SELECT term, 1.0 / (60 + rank) FROM r2
        ),
        f AS (SELECT term, round(sum(c), 9) AS rrf_score FROM u GROUP BY term),
        rr AS (
            SELECT term, rrf_score,
                   row_number() OVER (ORDER BY rrf_score DESC, term ASC)::BIGINT
                       AS rank
            FROM f
        )
        SELECT term, rrf_score, rank FROM rr WHERE rank <= 30
    """,
    # per-dimension unnest WITH ordinality, identical sum-of-products
    # moment arithmetic (population variance = E[v^2] - E[v]^2)
    "embedding_moments": """
        WITH ex AS (
            SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                   unnest(embedding)::DOUBLE AS v
            FROM embeddings
        )
        SELECT dim::INT AS dim,
               round(sum(v) / count(*), 6) AS mean_v,
               round(sum(v * v) / count(*)
                     - (sum(v) / count(*)) * (sum(v) / count(*)), 6) AS var_v,
               round(min(v), 6) AS min_v,
               round(max(v), 6) AS max_v,
               count(*)::BIGINT AS n
        FROM ex GROUP BY dim
    """,
}


_FINITE_EMB_CTE = (
    "embeddings_f AS (SELECT * FROM embeddings "
    "WHERE len(list_filter(embedding, x -> NOT isfinite(x))) = 0)"
)


def _require_finite_embeddings(sql: str) -> str:
    """Rewrite an oracle to read the finite-vector subset: every
    ``FROM embeddings`` flips to a leading ``embeddings_f`` CTE --
    the twin of the engine's ``_embs_finite`` filter.  Keeps the two
    sides in lock-step without threading a src parameter through every
    CTE generator."""
    body = sql.replace("FROM embeddings", "FROM embeddings_f")
    stripped = body.lstrip()
    lead = body[: len(body) - len(stripped)]
    if stripped.startswith("WITH RECURSIVE"):
        rest = stripped[len("WITH RECURSIVE"):]
        return f"{lead}WITH RECURSIVE {_FINITE_EMB_CTE},{rest}"
    if stripped.startswith("WITH"):
        rest = stripped[len("WITH"):]
        return f"{lead}WITH {_FINITE_EMB_CTE},{rest}"
    return f"{lead}WITH {_FINITE_EMB_CTE}\n{stripped}"


# the queries whose operators REQUIRE finite vectors (moments raise,
# the PQ fixed-point encode would CAST_OVERFLOW) pre-filter on the
# engine side via _embs_finite; their oracles read the same subset
for _n in ("similarity_ivfpq_topk", "embedding_moments"):
    ORACLE_SQL[_n] = _require_finite_embeddings(ORACLE_SQL[_n])
del _n


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md SS2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents, keyed like ``queries()``."""
    return dict(ORACLE_SQL)
