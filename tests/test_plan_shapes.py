"""Physical-plan shape regressions.

Locks in the plan properties the engine's 100 TB posture depends on
(README "Operator scale characteristics"): pushdown reaching scans,
dims broadcast, and the zero-shuffle structure of the per-document
signature operators.  A change that silently turns one of these into a
worse plan fails here, not in a profiler three rounds later.
"""

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _explain(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _plan(spark, name):
    return _explain(entrymod.queries()[name](spark, SF))


def test_q1_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    # column pruning: the scan must not read l_orderkey
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read_schema


def test_q3_q5_broadcast_dimensions(spark):
    for name in ("q3_shipping_priority", "q5_local_supplier_volume"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, name


def test_signature_operators_have_no_joins_or_windows(spark):
    # per-document computations: no join, no window function, no sort
    # simhash signatures are checked on their frame directly (the
    # simhash_docs registry entry folded into simhash_pairs in r13)
    from data_stream_flink_user_address_spark.functions.dedup import simhash

    sig_plans = {
        "winnow_fingerprints": _plan(spark, "winnow_fingerprints"),
        "simhash": _explain(simhash(entrymod._docs(spark, SF), bits=32)),
    }
    for name, plan in sig_plans.items():
        assert "Join" not in plan, name
        assert "Window" not in plan, name
        assert "Sort " not in plan, name


def test_count_by_dim_rewrite_has_no_aggregate_list(spark):
    # the explode(collect_list(x)) == x rewrite: no array building
    plan = _plan(spark, "count_by_state")
    assert "collect_list" not in plan
    assert "Generate" not in plan  # no explode either
    # no forced broadcast of the user side (it scales with the data);
    # the join just must not degrade to a cartesian
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_interval_keyed_join_is_equi_with_residual_range(spark):
    plan = _plan(spark, "interval_view_purchase")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_topk_queries_use_window_group_limit(spark):
    # rank<=k after row_number must become a partial top-k before the
    # shuffle (WindowGroupLimit), not a full sort of all candidates
    # similarity_quantized_topk folded out of the registry in r14 (its
    # SQ8 encode/decode rides embedding_quantize, exact ranking rides
    # similarity_topk) and top_parts_per_brand in r15 (absorbed by
    # window_function_showcase + the top-k family) -- the plan
    # contracts still hold on the library-level spellings
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    part = spark.read.parquet(os.path.join(SF, "part.parquet"))
    w = _W.partitionBy("p_brand").orderBy(
        _F.col("p_retailprice").desc(), _F.col("p_partkey").asc()
    )
    brand_topk = (
        part.withColumn("rnk", _F.row_number().over(w))
        .filter(_F.col("rnk") <= 3)
    )
    plans = {
        "similarity_topk": _plan(spark, "similarity_topk"),
        "brand_topk": _explain(brand_topk),
        "similarity_quantized_topk": _explain(
            entrymod._q_similarity_quantized_topk(spark, SF)
        ),
    }
    for name, plan in plans.items():
        assert "WindowGroupLimit" in plan, name
        assert "CartesianProduct" not in plan, name


def test_q15_scalar_max_broadcasts_not_single_partition_window(spark):
    # the quarterly-max threshold must come back as a broadcast 1-row
    # frame; a Window.partitionBy() spelling would funnel the whole
    # per-supplier frame through one task
    plan = _plan(spark, "q15_top_supplier")
    # Catalyst may even turn the equality filter into a broadcast HASH
    # join keyed on the scalar -- either broadcast form is fine
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan


def _assert_one_scan_fed_assignment(plan):
    """The centroid assignment is ONE MapInPandas node, and no hash
    exchange sits between the corpus scan and it.  The formatted plan's
    tree lists a node's children below it, so the tree text from the
    node to the next scan is its input subtree; each Exchange there must
    be a round-robin spread, not a hash partitioning."""
    import re

    tree = plan.split("\n\n", 1)[0]
    assert len(re.findall(r"MapInPandas \(\d+\)", tree)) == 1, tree
    below = tree.split("MapInPandas", 1)[1].split("Scan parquet", 1)[0]
    for node in re.findall(r"(?<!Broadcast)Exchange \((\d+)\)", below):
        details = plan.split(f"({node}) Exchange\n", 1)[1].split("\n\n", 1)[0]
        assert "hashpartitioning" not in details, details


def test_ivf_topk_broadcasts_and_never_cartesians(spark):
    # the probe side is provably small and must broadcast; the corpus
    # assignment is one Arrow pass over the scan (no n*k_cent pair rows,
    # no shuffle before it), and nothing may degrade to a cartesian
    plan = _plan(spark, "similarity_ivf_trained")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    _assert_one_scan_fed_assignment(plan)
    # the final rank<=k is a partial top-k, not a global sort
    assert "WindowGroupLimit" in plan


def test_pii_redact_is_shuffle_free_projection(spark):
    # redaction must stay a map-only projection over the scan: no
    # exchange, no join, no aggregate anywhere in the plan
    plan = _plan(spark, "pii_redact")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Aggregate" not in plan  # no agg of any kind (hash/sort/object)


def test_substring_dup_spans_shuffles_hashes_never_text(spark):
    # the dup test shuffles (gram_hash, doc_id, pos); the span merge
    # shuffles (doc_id, pos).  Neither the text column nor the token
    # array may cross an exchange, and nothing degrades to a cartesian.
    import re

    plan = _plan(spark, "substring_dup_spans")
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"\(\d+\) Exchange\n(.*?)\n\n", plan, re.S):
        block = m.group(1)
        if "hashpartitioning" not in block:
            continue
        inputs = [l for l in block.splitlines() if l.startswith("Input")]
        assert inputs, block
        assert "text#" not in inputs[0] and "__t#" not in inputs[0], inputs


def test_contamination_broadcasts_benchmark_set(spark):
    # the eval-set gram side must broadcast; the corpus side must never
    # feed a cartesian or a sort-merge join on gram strings
    # contamination_check folded out of the registry in r14 (the same
    # %25-eval broadcast gram anti-join is curation_pipeline's
    # decontamination stage); the plan contract holds on the library fn
    plan = _explain(entrymod._q_contamination_check(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # no sort-merge on the GRAM key (the corpus-side membership test);
    # the per-doc zero-fill join may legitimately sort-merge at scale
    for frag in plan.split("SortMergeJoin")[1:]:
        assert "gram" not in frag.split("\n", 1)[0], "gram-keyed SMJ"


def test_repetition_stats_shuffles_on_doc_id_only(spark):
    # every exchange must be hash-partitioned on the doc id -- a
    # bigram-keyed exchange would put the corpus-wide vocabulary on the
    # wire and reintroduce hot-key skew
    plan = _plan(spark, "repetition_stats")
    assert "CartesianProduct" not in plan
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        keys = frag.split(")", 1)[0]
        assert "doc_id" in keys, f"non-doc_id exchange: {keys}"


def test_curation_pipeline_never_shuffles_document_bodies(spark):
    # the composed recipe's core claim: after the row-local gates, text
    # never crosses a hash exchange -- the wide ops move grams, doc ids,
    # and 32-byte fingerprints only.  (RoundRobin respreads are the
    # small-single-file spread, off at real scale.)
    import re

    plan = _plan(spark, "curation_pipeline")
    assert "BroadcastHashJoin" in plan  # decontamination joins broadcast grams
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"\(\d+\) Exchange\n(.*?)\n\n", plan, re.S):
        block = m.group(1)
        if "hashpartitioning" not in block:
            continue
        inputs = [l for l in block.splitlines() if l.startswith("Input")]
        assert inputs and "text#" not in inputs[0], f"text crosses a hash exchange: {inputs}"


def test_main_content_extraction_stage_is_scan_fused_row_local(spark):
    """The crawl funnel's ingestion order (VERDICT r14 ask #7): raw
    pages hit extract_main_content BEFORE any wide curation op, and the
    extraction must be a row-local Arrow-batched stage fused onto the
    scan -- no exchange may sit between the parquet read and the pandas
    UDF, and downstream of the gate the page bodies must never cross a
    hash exchange (the curation claim, now covering the extraction
    stage the funnel runs since the crawl-ingest demo adopted it)."""
    import re

    from pyspark.sql import functions as F

    from data_stream_flink_user_address_spark.functions.dedup import (
        exact_dedup,
    )
    from data_stream_flink_user_address_spark.functions.text import (
        extract_main_content,
        strip_markup,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit('<nav><a href="/">x</a></nav><p>'), F.col("text"),
            F.lit("</p>"),
        ).alias("text"),
    )
    content = extract_main_content(pages)
    cleaned = strip_markup(content).filter(F.length("text") > 0)
    plan = _explain(exact_dedup(cleaned))
    # the extraction is the Arrow-batched pandas stage...
    assert "ArrowEvalPython" in plan
    # ...and it runs straight off the scan: the plan below the pandas
    # node contains the parquet read and no exchange of any kind
    below = plan.split("ArrowEvalPython", 1)[1]
    tail = below.split("Scan parquet", 1)[0]
    assert "Exchange" not in tail, tail
    # after the gate, bodies never cross a hash exchange: the dedup
    # shuffle carries ids + fingerprints only
    for m in re.finditer(r"\(\d+\) Exchange\n(.*?)\n\n", plan, re.S):
        block = m.group(1)
        if "hashpartitioning" not in block:
            continue
        inputs = [l for l in block.splitlines() if l.startswith("Input")]
        assert inputs and "text#" not in inputs[0], (
            f"page bodies cross a hash exchange: {inputs}"
        )


def test_semantic_dedup_broadcasts_centroids_no_cartesian(spark):
    # the tiny trained centroid frame ships with the assignment kernel
    # (collected at construction), so the corpus x centroid argmax is one
    # Arrow pass over the scan -- never a CartesianProduct shuffle -- and
    # the cluster-keyed pairwise stage is the grouped-pandas node keyed
    # by cluster_id
    plan = _plan(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan
    _assert_one_scan_fed_assignment(plan)
    assert "FlatMapGroupsInPandas" in plan


def test_new_tpch_queries_join_strategies(spark):
    # q4: the EXISTS becomes a hash semi join on the equi key, orders
    # never duplicated; q21: both existential self-joins stay hash
    # joins; q19: the disjunctive predicate leaves the part prefilter
    # pushed to the scan and the join broadcast
    for name in ("q4_order_priority", "q21_sole_blame_supplier"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "LeftSemi" in plan or "ExistenceJoin" in plan, name
    plan = _plan(spark, "q19_discounted_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    pushed = [seg.split("ReadSchema", 1)[0] for seg in plan.split("PushedFilters:")[1:]]
    # Catalyst derives l_quantity bounds from the OR-of-ANDs and pushes
    # them into the lineitem scan; the brand IN-list reaches the part scan
    assert any("l_quantity" in s for s in pushed), pushed
    assert any("p_brand" in s for s in pushed), pushed


def test_q22_scalar_threshold_is_broadcast(spark):
    # the global-average threshold must reach the customer scan as a
    # broadcast (nested-loop over a 1-row frame), not a shuffled join
    plan = _plan(spark, "q22_global_sales_opportunity")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_unigram_quality_topv_is_partial_and_text_stays_local(spark):
    # the vocabulary cut must plan as TakeOrderedAndProject (partial
    # per-partition top-V + driver merge), the model side must
    # broadcast, and neither text nor token strings may cross a hash
    # exchange (the doc-keyed merge carries numeric partials only).
    # Targets the function directly since the unigram_quality slot
    # folded into unigram_lm_tokens (R16_FOLDED) -- the established
    # retired-slot plan-contract pattern.
    import re

    from data_stream_flink_user_address_spark.functions.text import (
        unigram_logprob_scores,
    )

    plan = _explain(unigram_logprob_scores(entrymod._docs(spark, SF)))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"\(\d+\) Exchange\n(.*?)\n\n", plan, re.S):
        block = m.group(1)
        if "hashpartitioning" not in block:
            continue
        inputs = [l for l in block.splitlines() if l.startswith("Input")]
        assert inputs, block
        if "doc_id" in block.split("hashpartitioning", 1)[1][:80]:
            assert "text#" not in inputs[0] and "tok#" not in inputs[0], inputs


def test_per_source_cap_map_side_group_limit(spark):
    """The cap filter must rewrite to a two-phase WindowGroupLimit:
    map-side partial bounds the shuffle to cap rows per (source x input
    partition), so a mega-source never concentrates anywhere."""
    plan = _plan(spark, "per_source_cap")
    assert plan.count("WindowGroupLimit") >= 2
    assert "Partial" in plan and "Final" in plan
    # bodies stay behind: text never enters the plan
    assert "text" not in plan


def test_strip_markup_is_shuffle_free_projection(spark):
    # the strip_markup query folded into main_content_extract in r15;
    # the zero-shuffle contract still holds on the library function
    from data_stream_flink_user_address_spark.functions.text import (
        strip_markup,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    plan = _explain(strip_markup(docs))
    # no join, window, aggregate, or exchange anywhere: pure projection
    for op in ("Join", "Window", "HashAggregate", "Sort", "Exchange"):
        assert op not in plan, op


def test_quality_buckets_window_carries_slim_rows_only(spark):
    """VERDICT r12 wrong #2: the per-stratum ntile sort must carry ONLY
    (key, stratum, score) -- document bodies re-join on the key after
    bucket assignment.  A regression back to ntile-over-the-full-frame
    puts each source's entire text corpus through one task's sort."""
    import re

    from data_stream_flink_user_address_spark.functions.sampling import (
        quality_stratified_buckets,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    plan = _explain(quality_stratified_buckets(docs, "n_chars", n_buckets=4))
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    sort_window = [
        b for b in blocks if re.match(r"\(\d+\) (Sort|Window)\b", b)
    ]
    assert len(sort_window) >= 2, plan  # one Sort + one Window
    for b in sort_window:
        assert "text#" not in b, b
        assert "Input [3]" in b or "Input [4]" in b, b  # 3 cols (+_we0)
    # and the bodies come back: the final output still has text
    out_block = blocks[-1]
    assert "text#" in out_block or "text" in plan.split("ReadSchema", 1)[1][:200]


def test_quality_bucket_cuts_is_broadcast_no_window(spark):
    """The approximate variant must be window-free: one mergeable
    percentile aggregate, a broadcast of the tiny cut frame, and a
    row-local bucket assignment -- flat in stratum size, skew-immune."""
    from data_stream_flink_user_address_spark.functions.sampling import (
        quality_bucket_cuts,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    plan = _explain(quality_bucket_cuts(docs, "n_chars", n_buckets=4))
    assert "Window" not in plan
    assert "BroadcastExchange" in plan
    assert "percentile_approx" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_incremental_dedup_store_never_shuffles(spark, tmp_path):
    """VERDICT r12 ask #6: with the fingerprint store written bucketed
    on the join key (build_bucketed_fingerprint_store), the per-batch
    anti-join must read the store's bucket layout directly -- ONLY the
    batch side exchanges (into the store's bucketing); the store scan
    feeds the SortMergeJoin with zero Exchange.  Broadcast is disabled
    to simulate a store too large to broadcast (the 100 TB regime this
    layout exists for)."""
    import re

    from data_stream_flink_user_address_spark.functions.dedup import (
        build_bucketed_fingerprint_store,
        incremental_exact_dedup_bucketed,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.sql("DROP TABLE IF EXISTS fp_store_plan_t")
    build_bucketed_fingerprint_store(
        docs, "fp_store_plan_t", str(tmp_path / "fp_store"), n_buckets=n_buckets
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    except Exception:
        prev_aqe = None
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _explain(incremental_exact_dedup_bucketed(docs, "fp_store_plan_t"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS fp_store_plan_t")
    assert "SortMergeJoin" in plan and "LeftAnti" in plan
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    store_scan = [b for b in blocks if re.match(r"\(\d+\) Scan parquet .*fp_store_plan_t", b)]
    assert store_scan, plan
    assert "Bucketed: true" in store_scan[0], store_scan[0]
    # exactly ONE hash exchange in the whole plan: the batch side's.
    exchanges = [b for b in blocks if re.match(r"\(\d+\) Exchange", b)]
    hash_ex = [b for b in exchanges if "hashpartitioning" in b]
    assert len(hash_ex) == 1, plan
    # and it carries the batch's (fingerprint, min-id) pair, not the store
    assert "min" in hash_ex[0] or "doc_id" in hash_ex[0], hash_ex[0]


def test_bucketed_dedup_exclude_epoch_filter_stays_scan_side(spark, tmp_path):
    """The streaming wrapper's replay contract filters the current
    epoch's own store rows out of the gate (exclude_epoch).  That
    filter must ride the bucketed store SCAN -- pushed into the parquet
    read, bucket layout intact, still zero store-side Exchange -- not
    force a re-shuffle of the store (which at 100 TB would put billions
    of fingerprints back on the wire every micro-batch)."""
    import re

    from data_stream_flink_user_address_spark.functions.dedup import (
        build_bucketed_fingerprint_store,
        incremental_exact_dedup_bucketed,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.sql("DROP TABLE IF EXISTS fp_store_epoch_plan_t")
    build_bucketed_fingerprint_store(
        docs, "fp_store_epoch_plan_t", str(tmp_path / "fp_store"),
        n_buckets=n_buckets, epoch=-1,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _explain(
            incremental_exact_dedup_bucketed(
                docs, "fp_store_epoch_plan_t", exclude_epoch=7
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS fp_store_epoch_plan_t")
    assert "SortMergeJoin" in plan and "LeftAnti" in plan
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    store_scan = [
        b for b in blocks
        if re.match(r"\(\d+\) Scan parquet .*fp_store_epoch_plan_t", b)
    ]
    assert store_scan, plan
    assert "Bucketed: true" in store_scan[0], store_scan[0]
    # the epoch filter reached the parquet reader
    assert "PushedFilters" in store_scan[0] and "__epoch" in store_scan[0], (
        store_scan[0]
    )
    # still exactly ONE hash exchange: the batch side's
    hash_ex = [
        b for b in blocks
        if re.match(r"\(\d+\) Exchange", b) and "hashpartitioning" in b
    ]
    assert len(hash_ex) == 1, plan


def test_minhash_store_gate_never_shuffles_store(spark, tmp_path):
    """The incremental MinHash gate (minhash_store_matches) must read
    the band store's bucket layout directly: batch band rows exchange
    into the store's bucketing; the store scan feeds the join with NO
    Exchange, the epoch-exclusion filter is pushed into the parquet
    read, and the signature-agreement rescore rides the join condition
    (no post-join shuffle).  Broadcast disabled: the 100 TB band store
    never broadcasts."""
    import re

    from data_stream_flink_user_address_spark.functions.dedup import (
        build_minhash_band_store,
        minhash_signatures_text,
        minhash_store_matches,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.sql("DROP TABLE IF EXISTS mh_store_plan_t")
    build_minhash_band_store(
        docs, "mh_store_plan_t", str(tmp_path / "mh_store"),
        n_buckets=n_buckets, epoch=-1,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        sigs = minhash_signatures_text(docs.limit(500))
        plan = _explain(
            minhash_store_matches(sigs, "mh_store_plan_t", exclude_epoch=3)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS mh_store_plan_t")
    assert "SortMergeJoin" in plan
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    store_scan = [
        b for b in blocks
        if re.match(r"\(\d+\) Scan parquet .*mh_store_plan_t", b)
    ]
    assert store_scan, plan
    assert "Bucketed: true" in store_scan[0], store_scan[0]
    assert "__epoch" in store_scan[0] and "PushedFilters" in store_scan[0]
    # the rescore is the join CONDITION (inline), not a later stage
    smj = [b for b in blocks if b.startswith("(") and "SortMergeJoin" in b]
    assert smj and "zip_with" in smj[0], smj
    # exactly ONE hash exchange: the batch band rows into the bucketing
    hash_ex = [
        b for b in blocks
        if re.match(r"\(\d+\) Exchange", b) and "hashpartitioning" in b
    ]
    assert len(hash_ex) == 1, plan
    assert "band_key" in hash_ex[0]


def test_simhash_store_gate_never_shuffles_store(spark, tmp_path):
    """simhash_store_matches: same contract as the MinHash gate pin --
    store scan bucketed with the epoch filter pushed, exactly one hash
    exchange (the batch band rows), and the exact popcount rescore
    riding the join condition."""
    import re

    from data_stream_flink_user_address_spark.functions.dedup import (
        build_simhash_band_store,
        simhash,
        simhash_store_matches,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.sql("DROP TABLE IF EXISTS sh_store_plan_t")
    build_simhash_band_store(
        docs, "sh_store_plan_t", str(tmp_path / "sh_store"),
        n_buckets=n_buckets, epoch=-1,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        sigs = simhash(docs.limit(500))
        plan = _explain(
            simhash_store_matches(sigs, "sh_store_plan_t", exclude_epoch=3)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS sh_store_plan_t")
    assert "SortMergeJoin" in plan
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    store_scan = [
        b for b in blocks
        if re.match(r"\(\d+\) Scan parquet .*sh_store_plan_t", b)
    ]
    assert store_scan, plan
    assert "Bucketed: true" in store_scan[0], store_scan[0]
    assert "__epoch" in store_scan[0] and "PushedFilters" in store_scan[0]
    smj = [b for b in blocks if b.startswith("(") and "SortMergeJoin" in b]
    assert smj and "bit_count" in smj[0], smj
    hash_ex = [
        b for b in blocks
        if re.match(r"\(\d+\) Exchange", b) and "hashpartitioning" in b
    ]
    assert len(hash_ex) == 1, plan
    assert "band_key" in hash_ex[0]


def test_doc_signals_is_single_pass_map_only(spark):
    """The r13 fold's point: all four text signals (lang, quality, ws +
    BPE token counts) compute in ONE map-only projection over one scan
    -- no shuffle, no join, no aggregate, and exactly one parquet scan
    (three separate signal queries would scan the corpus three times)."""
    import re

    plan = _plan(spark, "doc_signals")
    assert "Join" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "Window" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    # at most the _docs round-robin respread; never a hash exchange
    assert "hashpartitioning" not in plan


def test_bpe_apply_broadcasts_vocab_and_shuffles_positions_only(spark):
    """Tokenizer application: the vocabulary must broadcast and the one
    hash exchange carries (doc_id, pos, encoded-word) -- never the
    document text."""
    import re

    from data_stream_flink_user_address_spark.functions.text import (
        bpe_apply, bpe_train_and_encode,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    _, vocab = bpe_train_and_encode(docs.limit(50), n_merges=2)
    plan = _explain(bpe_apply(docs, vocab))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"\(\d+\) Exchange\n(.*?)\n\n", plan, re.S):
        block = m.group(1)
        if "hashpartitioning" not in block:
            continue
        inputs = [l for l in block.splitlines() if l.startswith("Input")]
        assert inputs and "text#" not in inputs[0], inputs


def test_windowed_count_by_type_is_one_aggregate(spark):
    """The r13 fold's claim: count and total_value ride the SAME single
    hash aggregate -- one scan, one exchange, no second windowed job."""
    import re

    plan = _plan(spark, "windowed_count_by_type")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    hash_ex = [
        b for b in re.split(r"\n(?=\(\d+\) )", plan)
        if re.match(r"\(\d+\) Exchange", b) and "hashpartitioning" in b
    ]
    assert len(hash_ex) == 1, plan
    # partial aggregate computes both measures map-side
    partial = plan.split("partial_count", 1)
    assert len(partial) == 2 and "partial_sum" in plan


def test_leakage_split_guard_size_gates_the_holdout_broadcast(spark, monkeypatch):
    """leakage_free_split must not force a percentage-sized holdout
    through a broadcast: under the gate's row budget the eval band table is
    broadcast (map-side candidate join); above it the guard falls back
    to a shuffle equi-join on band_key carrying slim projections only
    (VERDICT r13 "What's wrong #1")."""
    from data_stream_flink_user_address_spark.functions import gating
    from data_stream_flink_user_address_spark.functions.sampling import (
        leakage_free_split,
    )

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared phrasing across rows")
         for i in range(40)],
        ["doc_id", "text"],
    )
    splits = {"train": 0.8, "test": 0.2}

    monkeypatch.setattr(gating, "BROADCAST_MAX_ROWS", 10**6)
    _, leaks_small = leakage_free_split(docs, splits, materialize_pairs=False)
    assert "BroadcastExchange" in _explain(leaks_small)

    monkeypatch.setattr(gating, "BROADCAST_MAX_ROWS", 0)
    _, leaks_big = leakage_free_split(docs, splits, materialize_pairs=False)
    plan = _explain(leaks_big)
    assert "BroadcastExchange" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_corpus_diff_bucketed_snapshots_zero_exchange(spark, tmp_path):
    """The re-crawl regime corpus_diff is built for: both snapshots
    stored id-bucketed (sources/layout.write_bucketed), so the
    full-outer fingerprint join reads both bucket layouts directly --
    ZERO Exchange anywhere in the plan (the md5 projection preserves
    the scan's output partitioning).  Broadcast stays enabled; the
    join must not need it."""
    import re

    from data_stream_flink_user_address_spark.functions.profile import (
        corpus_diff,
    )
    from data_stream_flink_user_address_spark.sources.layout import (
        write_bucketed,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    for t in ("diff_old_t", "diff_new_t"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bucketed(
        docs.select("doc_id", "text"), "diff_old_t", "doc_id", 8,
        str(tmp_path / "old"),
    )
    write_bucketed(
        docs.select("doc_id", "text"), "diff_new_t", "doc_id", 8,
        str(tmp_path / "new"),
    )
    try:
        plan = _explain(
            corpus_diff(spark.table("diff_old_t"), spark.table("diff_new_t"))
        )
        assert not re.search(r"\(\d+\) Exchange", plan), plan
        assert "SortMergeJoin FullOuter" in plan
    finally:
        for t in ("diff_old_t", "diff_new_t"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sft_turn_spans_is_zero_exchange_and_udf_free(spark):
    """The r15b SFT flatten's core scale claim: conversations arrive
    whole in one row, so loss-mask span arithmetic happens INSIDE the
    turns array before the explode -- the whole plan is scan-fused
    with no hash or range exchange, no window, no join, and no Python
    UDF (from_json/to_json/transform/aggregate are all JVM
    expressions).  The explode+window spelling this replaces would
    hash-shuffle every turn's content once.  (The registered
    sft_turn_spans query folded into sft_pack_spans in r17 --
    R17_FOLDED -- so this pins the engine functions directly over the
    same wire-round-tripped shape.)

    ADVICE r17: the frame is PARQUET-BACKED (the sf0.001 documents
    fixture, the same source the folded sft_pack_spans path reads at
    scale), not a LocalTableScan -- a tiny local relation is too easy
    a plan for Catalyst and could hide exchanges a file-sourced scan
    would introduce.  The only exchange allowed is _docs' deliberate
    round-robin respread (not a hash or range partitioning)."""
    from pyspark.sql import functions as F

    from data_stream_flink_user_address_spark.functions.chat import (
        conversation_turns,
        parse_conversations,
    )

    convs = entrymod._docs(spark, SF).select(
        F.col("doc_id").alias("conv_id"),
        F.to_json(
            F.array(
                F.struct(
                    F.lit("user").alias("role"),
                    F.substring("text", 1, 40).alias("content"),
                ),
                F.struct(
                    F.lit("assistant").alias("role"),
                    F.coalesce(F.col("text"), F.lit("")).alias("content"),
                ),
            )
        ).alias("conversation"),
    )
    plan = _explain(conversation_turns(parse_conversations(convs)))
    assert "Scan parquet" in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan  # no Arrow or row-wise Python stage


def test_embedding_moments_broadcasts_the_moment_frame(spark):
    """embedding_moments (r15b): the d-row driver-combined moment frame
    must BROADCAST onto the per-dimension min/max aggregate -- a sort
    or shuffle join keyed on 64 rows would serialize the whole
    posexplode output through one exchange for nothing.  The only hash
    exchange in the plan is the dim-keyed partial->final aggregate of
    (dim, v) pairs; vectors themselves never cross it."""
    import re

    plan = _plan(spark, "embedding_moments")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    hash_exchanges = [
        m.group(1)
        for m in re.finditer(r"\(\d+\) Exchange\n(.*?)\n\n", plan, re.S)
        if "hashpartitioning" in m.group(1)
    ]
    assert len(hash_exchanges) == 1, plan
    inputs = [
        l for l in hash_exchanges[0].splitlines() if l.startswith("Input")
    ]
    assert inputs and "embedding#" not in inputs[0], inputs


def test_lm_ppl_buckets_text_never_crosses_a_hash_exchange(spark):
    """The backoff-LM scorer's scale claim (r15b): documents are
    consumed into (id, pos, tok) at the scan projection, so every
    exchange downstream -- the doc-keyed lag windows, the bigram-keyed
    model joins, the per-source binning -- carries tokens, counts, and
    ids, never document bodies; and nothing degenerates to a
    cartesian.  (The one BroadcastNestedLoopJoin is the deliberate
    1-row total-count broadcast -- the q15 scalar idiom.)"""
    import re

    plan = _plan(spark, "lm_ppl_buckets")
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"\(\d+\) Exchange\n(.*?)\n\n", plan, re.S):
        block = m.group(1)
        if "hashpartitioning" not in block:
            continue
        inputs = [l for l in block.splitlines() if l.startswith("Input")]
        assert inputs and "text#" not in inputs[0], inputs


def test_unigram_lm_encode_size_gates_the_word_broadcast(spark, monkeypatch):
    """unigram_lm_encode's segmentation frame is DISTINCT-WORD-sized
    (1e8-1e9 rows on web text), not vocab-sized like bpe_apply's: the
    join onto posexploded tokens must be size-gated, not blindly
    broadcast (VERDICT r15 "What's wrong #1", the leakage_free_split
    idiom).  Under the gate's row budget the word frame broadcasts; above
    it the join falls back to a plain hash join on slim (word, seg)
    rows with no cartesian fallback."""
    from data_stream_flink_user_address_spark.functions import gating
    from data_stream_flink_user_address_spark.functions.unigram_lm import (
        unigram_lm_encode, unigram_lm_train,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta{i % 5} gamma shared tokens") for i in range(30)],
        ["doc_id", "text"],
    )
    pieces = unigram_lm_train(docs, vocab_size=32, max_piece_len=3)

    monkeypatch.setattr(gating, "BROADCAST_MAX_ROWS", 10**6)
    enc_small = unigram_lm_encode(docs, pieces)
    assert "BroadcastExchange" in _explain(enc_small)

    monkeypatch.setattr(gating, "BROADCAST_MAX_ROWS", 0)
    enc_big = unigram_lm_encode(docs, pieces)
    plan = _explain(enc_big)
    assert "BroadcastExchange" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_profile_funnel_stages_aggregate_without_text_in_exchange(spark):
    """The registered funnel profiles four stages, each as one narrow
    projection into a 1-row aggregate: document text must never appear
    in any Exchange input (the corpus_profile scale claim -- at most
    id, group, 3 numeric, 1 fingerprint columns ride the aggregate),
    and nothing degenerates to a cartesian."""
    import re

    plan = _plan(spark, "profile_funnel")
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"\(\d+\) Exchange\n(.*?)\n\n", plan, re.S):
        block = m.group(1)
        if "hashpartitioning" not in block and "SinglePartition" not in block:
            # the only other exchanges are _docs' deliberate
            # single-split RoundRobin respread of the tiny test table
            continue
        inputs = [l for l in block.splitlines() if l.startswith("Input")]
        assert inputs and "text#" not in inputs[0], inputs


def test_pack_bins_exact_roundtrip_text_moves_once_per_side(spark):
    """The materializer contract query: each text rides the id-keyed
    assignment join and ONE bin-keyed shuffle into bin assembly, plus
    the roundtrip check's slim (id, text) re-join -- no cartesian, no
    nested-loop fallback anywhere."""
    plan = _plan(spark, "pack_bins_exact_roundtrip")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sft_pack_spans_no_cartesian_and_spans_precompute(spark):
    """The packed-spans deliverable: conversations render and span
    row-locally, packing adds the id-keyed join + one bin-keyed
    shuffle, re-basing ships slim triples -- nothing may degenerate to
    a cartesian or nested-loop join."""
    plan = _plan(spark, "sft_pack_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_remove_dup_spans_size_gates_the_span_broadcast(spark, monkeypatch):
    """remove_dup_spans must not shuffle the corpus when the flagged
    set is small (spans BROADCAST, the usual regime) and must not force
    a giant flagged set through a broadcast (plain id-keyed hash join
    fallback) -- the leakage_free_split gate idiom."""
    from data_stream_flink_user_address_spark.functions import gating
    from data_stream_flink_user_address_spark.functions.dedup import (
        remove_dup_spans,
        substring_dup_spans,
    )

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j unique" + str(i)) for i in range(30)],
        ["doc_id", "text"],
    )
    spans = substring_dup_spans(docs, k=8)

    monkeypatch.setattr(gating, "BROADCAST_MAX_ROWS", 10**6)
    small = remove_dup_spans(docs, spans)
    assert "BroadcastExchange" in _explain(small)

    monkeypatch.setattr(gating, "BROADCAST_MAX_ROWS", 0)
    big = remove_dup_spans(docs, spans)
    plan = _explain(big)
    assert "BroadcastExchange" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
